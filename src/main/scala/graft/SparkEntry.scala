package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.operators.{Joins, Relational, Windows}
import graft.dedup.{Dedup, DupGroups}
import graft.similarity.Similarity
import graft.text.TextAnalysis
import graft.multimodal.Multimodal
import graft.ml.{Clusters, Outliers}

/** Driver contract: one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ the training-data-pipeline operators), with DuckDB
  * oracle SQL for every SQL-expressible query. Aliases, ordering, and
  * rounding are pinned identically on both sides (see `Relational`
  * scaladoc for the float policy).
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.pricingSummary(Tables.lineitem(spark, "/root/testdata/sf0.001"))

  private def q(f: (SparkSession, String) => DataFrame) = f

  /** Run `f` against a fresh temp dir and eagerly materialize its result
    * (localCheckpoint) BEFORE the dir is removed — the safety invariant
    * every sink round-trip gate needs, kept in one place. */
  private def withTempDir(prefix: String)(f: String => DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try f(dir.toString).localCheckpoint(true)
    finally Fs.deleteRecursively(dir)
  }

  /** Membership + payload-byte pin per group: row count, id sum,
    * character mass, and an fnv sum over the text. */
  private def fnvSummary(df: DataFrame, groupCol: String): DataFrame =
    df.groupBy(groupCol)
      .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"),
        sum(length(col("text"))).as("chars"),
        sum(graft.functions.HashExpressions.fnv1a32(col("text")))
          .as("text_fnv_sum"))
      .orderBy(groupCol)

  /** `SPARK_GRAFT_ONLY` parsing for [[Verify]]: comma-separated
    * tokens; a token matches a query when it equals the name, is an
    * underscore-delimited prefix ("d7" → d7_segment_dup_stats), or
    * equals the family's leading letters
    * ("t" → t5…/t11…, but NOT tp1…, whose family is "tp"). A blank or
    * empty value means NO filter — an exported-but-empty variable must
    * not silently select zero queries. */
  private[graft] def onlyFilter(raw: Option[String]): String => Boolean = {
    val toks = raw.map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .filter(_.nonEmpty)
    n => toks.forall(_.exists(p =>
      n == p || n.startsWith(p + "_") || n.takeWhile(_.isLetter) == p))
  }

  /** Labeled lineitem for the classifier gates (ml7/ml8/ml9): the
    * fixture's columns are mutually independent, so a LEARNABLE binary
    * label must be derived from the features themselves —
    * `l_quantity + 20·l_discount > 28` mixes two features (quantity
    * dominant, discount a perturbation, price irrelevant), giving a
    * model with genuinely nonzero weights, a populated calibration
    * diagram, and WOE values spanning both signs. */
  private def liLabeled(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).withColumn("is_big",
      (col("l_quantity") + col("l_discount") * 20.0 > 28.0).cast("int"))

  /** The same label as DuckDB SQL (the ml oracle fixtures). */
  private val isBigSql =
    "CASE WHEN l_quantity + l_discount * 20.0 > 28.0 THEN 1.0 ELSE 0.0 END"

  /** Deterministic near-duplicate planting for the similarity gates: for
    * each `vec_id < n`, add a clone at `vec_id + 10000` with every
    * component scaled by `1 + 1e-4·((vec_id+i) mod 3 − 1)` — pure
    * arithmetic, so a SQL oracle regenerates the identical floats. The
    * fixture embeddings have no organic near-dups (max cosine ≈ 0.51),
    * so planted pairs are exactly the pairs above any high threshold. */
  private def plantClones(embeddings: DataFrame, n: Int): DataFrame = {
    val base = embeddings.select("vec_id", "embedding")
    val clones = embeddings.filter(col("vec_id") < n).select(
      (col("vec_id") + 10000).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        (x * (lit(1.0) + lit(0.0001) * ((col("vec_id") + i) % 3 - 1))).cast("float"))
        .as("embedding"))
    base.unionByName(clones)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- scans / filters / projections (SURVEY §2.1, §2.2) ---
    "q1_pricing_summary" -> q((s, d) => Relational.pricingSummary(Tables.lineitem(s, d))),
    "s1_scan_filter_project" -> q((s, d) => Relational.scanFilterProject(Tables.lineitem(s, d))),
    "p4_year_filter" -> q((s, d) => Relational.yearRangeCounts(Tables.orders(s, d))),
    "p5_set_membership" -> q((s, d) => Relational.setMembership(Tables.events(s, d))),
    "p7_safe_cast" -> q((s, d) => Relational.safeCastSum(Tables.events(s, d))),
    "p10_guarded_ratio" -> q((s, d) => Relational.guardedRatio(Tables.lineitem(s, d))),
    "p12_clipped_ratio" -> q((s, d) => Relational.clippedRatio(Tables.lineitem(s, d))),
    "p13_dow_counts" -> q((s, d) => Relational.countsByDow(Tables.events(s, d))),
    "p14_season_totals" -> q((s, d) => Relational.seasonTotals(Tables.orders(s, d))),
    "t4_dow_ordered" -> q((s, d) => Relational.dowOrderedCounts(Tables.events(s, d))),
    // seeded-sample invariant gate: per type, the 10% sample's size must
    // sit within ±5σ binomial bounds and its mean inside the value range
    // — checks the oracle can demand without reproducing Spark's RNG
    "p6_sample_profile" -> q((s, d) => {
      val ev = Tables.events(s, d)
      val samp = ev.sample(withReplacement = false, 0.1, seed = 42L)
        .groupBy("event_type")
        .agg(count(lit(1)).as("s_cnt"), avg("value").as("s_avg"))
      val tot = ev.groupBy("event_type")
        .agg(count(lit(1)).as("n"), min("value").as("mn"), max("value").as("mx"))
      tot.join(samp, Seq("event_type"), "left")
        .select(col("event_type"),
          (coalesce(col("s_cnt"), lit(0L)) >= col("n") * 0.1 - sqrt(col("n") * 0.09) * 5 &&
            coalesce(col("s_cnt"), lit(0L)) <= col("n") * 0.1 + sqrt(col("n") * 0.09) * 5)
            .as("cnt_in_bounds"),
          (col("s_avg").isNull || (col("s_avg") >= col("mn") && col("s_avg") <= col("mx")))
            .as("avg_in_range"))
        .orderBy("event_type")
    }),
    // raw seeded-sample invariant gate: the source row count is pinned
    // exactly; the oracle demands the sampled ids are a duplicate-free
    // subset of the source ids, the sample size sits inside ±5σ binomial
    // bounds, and the sampled value mean stays inside the source range —
    // everything checkable without reproducing Spark's RNG (p6 is the
    // per-type twin; this covers the raw-row form)
    "p18_sample_raw" -> q((s, d) => {
      val ev = Tables.events(s, d)
      val samp = ev.sample(withReplacement = false, 0.1, seed = 42L).persist()
      try {
        val src = ev.agg(count(lit(1)).as("n"),
          min("value").as("mn"), max("value").as("mx")).head()
        val nSrc = src.getLong(0)
        // empty/all-null source: min/max observe as null — guard like
        // the sample-side avg rather than NPE at getDouble
        val mn = if (src.isNullAt(1)) Double.NegativeInfinity else src.getDouble(1)
        val mx = if (src.isNullAt(2)) Double.PositiveInfinity else src.getDouble(2)
        val sa = samp.agg(count(lit(1)).as("n"), avg("value").as("av")).head()
        val nSamp = sa.getLong(0)
        val avOpt = if (sa.isNullAt(1)) None else Some(sa.getDouble(1))
        val nOutside = samp.select("event_id")
          .join(ev.select("event_id"), Seq("event_id"), "left_anti").count()
        val nDup = samp.groupBy("event_id").agg(count(lit(1)).as("c"))
          .filter(col("c") > 1).count()
        val bound = 5.0 * math.sqrt(nSrc * 0.1 * 0.9)
        import s.implicits._
        Seq((nSrc,
          nOutside == 0L && nDup == 0L,
          math.abs(nSamp - 0.1 * nSrc) <= bound,
          avOpt.forall(a => a >= mn && a <= mx)))
          .toDF("n_source", "ids_unique_subset", "cnt_in_bounds", "avg_in_range")
      } finally { samp.unpersist(); () }
    }),
    // deterministic hash-based sampling: the keep set is a pure function
    // of the key (FNV-1a of the stringified user_id), so unlike the
    // RNG path this is FULLY pinned — the oracle recomputes the same
    // hash and must select the identical rows
    "p19_hash_sample" -> q((s, d) =>
      Relational.hashSample(Tables.events(s, d), "user_id", pct = 10)
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), round(avg("value"), 4).as("avg_value"))
        .orderBy("event_type")),
    // --- aggregations (SURVEY §2.4) ---
    "a1_hourly_profile" -> q((s, d) => Relational.hourlyProfile(Tables.events(s, d))),
    "a3_busiest_keys" -> q((s, d) => Relational.busiestKeys(Tables.orders(s, d))),
    "a6_rollup_totals" -> q((s, d) => Relational.rollupTotals(Tables.orders(s, d))),
    "a28_cube_totals" -> q((s, d) => Relational.cubeTotals(Tables.lineitem(s, d))),
    // arbitrary GROUPING SETS (detail, status margin, grand total) in
    // one Expand+aggregate — the non-hierarchical list ROLLUP can't say
    "a32_grouping_sets" -> q((s, d) =>
      Relational.groupingSetTotals(Tables.lineitem(s, d))),
    // group-wise winsorized stats: exact per-group p5/p95 clamp, raw vs
    // robust mean pinned (oracle replays with quantile_cont, which
    // Spark's exact `percentile` interpolation matches)
    "a30_winsorized_stats" -> q((s, d) =>
      Relational.winsorizedStats(Tables.lineitem(s, d),
        "l_returnflag", "l_extendedprice", 0.05, 0.95)),
    "k1_key_skew" -> q((s, d) =>
      Relational.keySkewReport(Tables.events(s, d), "user_id")),
    "w7_quartile_ranks" -> q((s, d) => Windows.quartileRanks(Tables.orders(s, d))),
    // cohort retention over the sparse high-value stream (value > 120 ≈
    // p91 keeps ~6 events/user, spreading first-seen dates where every
    // user's FULL stream starts day 1); grid is (cohort × offset) —
    // bounded by days², fully pinned
    "w8_retention_cohorts" -> q((s, d) =>
      graft.operators.Windows.retentionCohorts(
          Tables.events(s, d).filter(col("value") > 120), maxOffsetDays = 7)
        // dates → strings at the gate boundary (driver compare treats
        // DATE columns engine-specifically; same convention as a15)
        .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort"),
          col("offset_days"), col("n_users"))
        .orderBy("cohort", "offset_days")),
    // first-order (from → to) transition counts over per-user streams,
    // unique sort key so the pairing is engine-stable — fully pinned
    "w10_transition_matrix" -> q((s, d) =>
      graft.operators.Windows.transitionMatrix(Tables.events(s, d))),
    // calendar gap-fill + forward-fill over a deliberately sparse daily
    // series (value > 240 ≈ p99): gap days must appear, carry the last
    // observation, and be flagged — all pinned
    "w9_resample_ffill" -> q((s, d) =>
      graft.operators.Windows.resampleDailyFfill(
          Tables.events(s, d).filter(col("value") > 240), "event_type")
        .select(col("event_type"), date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("avg_value"), col("filled_value"), col("is_gap"))
        .orderBy("event_type", "day")),
    // RANGE-frame trailing-hour stats per user at every event: the
    // frame is keyed by epoch distance (ties are full peers), so the
    // full 10k+-row result pins exactly against the SQL RANGE window
    "w14_range_rolling" -> q((s, d) =>
      graft.operators.Windows.trailingWindowStats(Tables.events(s, d))),
    // bounded-horizon EWMA (constant per-row work, no sequential scan)
    // pinned per-event against the oracle's UNTRUNCATED closed-form
    // cumsum — 4-decimal agreement proves the 2^-64 tail drop is exact
    "w15_ewma" -> q((s, d) =>
      graft.operators.Windows.ewma(Tables.events(s, d))),
    // rank-normalization scaling (percent_rank + empirical CDF) —
    // rank-based, so ties are order-independent; pinned per event
    "w16_rank_scaling" -> q((s, d) =>
      graft.operators.Windows.rankScaling(Tables.events(s, d))),
    // trapezoidal time-weighted average per user over irregular
    // event-time samples; per-user integral + span pinned
    "w17_time_weighted_avg" -> q((s, d) =>
      graft.operators.Windows.timeWeightedAvg(Tables.events(s, d))),
    // gaps-and-islands consecutive-day streaks (anchor-date trick, one
    // window over the distinct (user, day) frame)
    "w19_streaks" -> q((s, d) =>
      graft.operators.Windows.activityStreaks(Tables.events(s, d))),
    // OHLC bars per (type, day): min_by/max_by over a unique order key
    // — one hash agg, no window, open/close deterministic
    "w20_ohlc_bars" -> q((s, d) =>
      graft.operators.Windows.ohlcBars(Tables.events(s, d))),
    // CUSUM changepoint scan per type over the daily series — peak
    // |cumulative deviation| day, deterministic tiebreak
    "w24_cusum_changepoint" -> q((s, d) =>
      graft.operators.Windows.cusumChangepoint(Tables.events(s, d))),
    // Wald-Wolfowitz runs test on daily-delta signs — the randomness
    // screen; runs/z pinned per type
    "a46_runs_test" -> q((s, d) =>
      graft.operators.Windows.runsTest(Tables.events(s, d))),
    // coverage-gap detection (ANTI point-in-interval): events covered
    // by NO 1h window anchored at every 500th event — sparse enough
    // that gaps survive at every SF; membership pinned
    "j12_coverage_gaps" -> q((s, d) => {
      val ev = Tables.events(s, d)
      val iv = ev.filter(pmod(col("event_id"), lit(500L)) === 0)
        .select(col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 1 HOUR")).as("w_end"))
      graft.operators.RangeJoin.uncoveredPoints(ev, iv, "ts",
          "w_start", "w_end", "event_id", bucketSeconds = 3600L)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_uncovered"), sum("event_id").as("id_sum"))
        .orderBy("event_type")
    }),
    // lag-1 autocorrelation of the daily series per type: the daily
    // aggregate self-joined one day forward, then one corr aggregate
    "w22_autocorr" -> q((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(avg("value").as("v"))
      val nxt = daily.select(col("event_type"),
        date_sub(col("day"), 1).as("day"), col("v").as("v_next"))
      daily.join(nxt, Seq("event_type", "day"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_pairs"),
          round(corr(col("v"), col("v_next")), 6).as("autocorr_lag1"))
        .orderBy("event_type")
    }),
    // multinomial Naive Bayes (train + self-classify): the declarative
    // curation-classifier shape; full confusion matrix pinned
    "ml6_naive_bayes" -> q((s, d) =>
      graft.ml.NaiveBayes.confusionMatrix(Tables.documents(s, d))),
    // full-batch GD logistic regression, 3 rounds from zero over
    // population-standardized features: the oracle replays each round
    // as an unrolled CTE (gradient aggregate → weight update), so the
    // whole optimization trajectory is value-pinned, not just the fit
    "ml7_logreg_gd" -> q((s, d) =>
      graft.ml.LogReg.fitGd(liLabeled(s, d), "is_big",
        Seq("l_quantity", "l_extendedprice", "l_discount"),
        iters = 3, lr = 0.5)),
    // reliability diagram over the ml7 model's scores: the oracle
    // replays the full GD trajectory AND the row-level sigmoid scoring,
    // then the identical fixed-width binning — calibration quality is
    // pinned end-to-end, not just the weights
    "ml8_calibration" -> q((s, d) =>
      graft.ml.Calibration.reliabilityBins(
        graft.ml.LogReg.fitAndScore(liLabeled(s, d), "is_big",
          Seq("l_quantity", "l_extendedprice", "l_discount"),
          iters = 3, lr = 0.5),
        "p", "label", bins = 10)),
    // exact ROC-AUC of the ml7 model by the Mann–Whitney midrank
    // identity — scores pre-rounded to 9 dp so float-noise near-ties
    // group identically in both engines; distinct-score aggregation +
    // prefix-sum ranks, never a row-level sort
    "ml11_auc" -> q((s, d) =>
      graft.ml.Calibration.aucExact(
        graft.ml.LogReg.fitAndScore(liLabeled(s, d), "is_big",
            Seq("l_quantity", "l_extendedprice", "l_discount"),
            iters = 3, lr = 0.5)
          .select(col("label"), round(col("p"), 9).as("p")),
        "p", "label")),
    // 3-fold cross-validated held-out log-loss: deterministic
    // arithmetic fold assignment, each fold trains its OWN trajectory
    // on the other folds and held-out rows standardize with TRAIN
    // moments — the oracle replays all three trajectories in one WITH
    "ml10_kfold_cv" -> q((s, d) =>
      graft.ml.LogReg.kfoldLogLoss(liLabeled(s, d), "is_big",
        Seq("l_quantity", "l_extendedprice", "l_discount"),
        foldCol = pmod(col("l_orderkey") * 7 + col("l_linenumber"), lit(3)),
        k = 3, iters = 2, lr = 0.5)),
    // weight-of-evidence / information value of a categorical feature
    // against the same label — the feature screen run before any model;
    // the quantity bucket is strongly associated, so the woe values
    // span both signs and the iv terms are far from the zero floor
    "ml9_woe_iv" -> q((s, d) =>
      graft.ml.Calibration.woeIv(
        liLabeled(s, d).withColumn("qty_bucket",
          when(col("l_quantity") <= 15, "low")
            .when(col("l_quantity") <= 35, "mid")
            .otherwise("high")),
        "qty_bucket", "is_big")),
    // dedup-aware mixing: duplicate clusters (d8 machinery) weight each
    // doc 1/cluster_size, then the deterministic exact-40 A-ES draw —
    // a cluster's expected pick mass is ~equal no matter how many
    // copies it holds; full sampled rows pinned
    "tp5_dedup_weighted_mix" -> q((s, d) => {
      val docs = Tables.documents(s, d)
      val comps = graft.dedup.DupGroups.connectedComponents(
        graft.dedup.DupGroups.dupEdges(docs, 0.5),
        docs.select(col("doc_id").as("id")))
      val sizes = comps.groupBy("comp").agg(count(lit(1)).as("sz"))
      val withW = comps.select(col("id").as("doc_id"), col("comp"))
        .join(sizes, "comp")
        .withColumn("weight", lit(1.0) / col("sz"))
      graft.pipeline.TrainingData.weightedSampleExact(withW, 40, col("weight"))
        .select(col("doc_id"), col("sz").as("cluster_size"),
          round(col("es_key"), 6).as("es_key"))
    }),
    // Welch's t-test per event type between even/odd user cohorts: one
    // conditional co-moment pass, t/df/decision pinned
    "dr5_ab_ttest" -> q((s, d) =>
      graft.operators.Drift.welchTTest(Tables.events(s, d), "event_type",
        "value", pmod(col("user_id"), lit(2L)) === 0)),
    // functional-dependency audit: one held FD (the key) and two
    // violated ones over the same table, fan-out pinned
    "dq3_fd_violations" -> q((s, d) =>
      graft.operators.Quality.fdViolations(Tables.events(s, d), Seq(
        ("event_id->user_id", "event_id", "user_id"),
        ("user_id->event_type", "user_id", "event_type"),
        ("event_type->user_id", "event_type", "user_id")))),
    "a7_grouped_stats" -> q((s, d) => Relational.groupedStats(Tables.lineitem(s, d))),
    "a10_baseline_ratio" -> q((s, d) => Relational.baselineRatio(Tables.orders(s, d))),
    "a12_median_by_group" -> q((s, d) => Relational.medianByGroup(Tables.events(s, d))),
    "a16_segmentation" -> q((s, d) => Relational.segmentation(Tables.lineitem(s, d))),
    "a17_value_counts_topk" -> q((s, d) => Relational.valueCountsTopK(Tables.part(s, d))),
    "p17_like_filter" -> q((s, d) =>
      Tables.part(s, d)
        .filter(col("p_name").contains("red") || col("p_name").startsWith("blue"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("cnt"), round(avg("p_retailprice"), 4).as("avg_price"))
        .orderBy("p_brand")),
    "a18_histogram" -> q((s, d) => Relational.histogram(Tables.lineitem(s, d))),
    "a19_revenue_pivot" -> q((s, d) => Relational.revenuePivot(Tables.orders(s, d))),
    // wide→long melt via the built-in unpivot (inverse of a19's pivot)
    "a33_unpivot" -> q((s, d) => Relational.unpivotSummary(Tables.lineitem(s, d))),
    // weighted / geometric / harmonic means — one partial→final pass
    "a34_generalized_means" -> q((s, d) =>
      Relational.generalizedMeans(Tables.lineitem(s, d))),
    // readability profile (FK grade under the one-sentence convention)
    // — row-local vowel-run syllable proxy, one agg
    "t23_readability" -> q((s, d) =>
      TextAnalysis.readabilityBySource(Tables.documents(s, d))),
    // Benford first-digit audit over order totals: digit distribution
    // + chi-square against log10(1 + 1/d) — the fraud/synthetic-data
    // screen; digits extracted via integer floor (engine-stable)
    "a44_benford" -> q((s, d) => {
      val digit = substring(floor(col("o_totalprice")).cast("long")
        .cast("string"), 1, 1).cast("int")
      val counts = Tables.orders(s, d)
        .filter(col("o_totalprice") >= 1)
        .groupBy(digit.as("digit"))
        .agg(count(lit(1)).as("n"))
      val total = counts.agg(sum("n").as("tot"))
      counts.crossJoin(broadcast(total))
        .select(col("digit"), col("n"),
          round(col("n") / col("tot"), 6).as("observed_p"),
          round(log10(lit(1.0) + lit(1.0) / col("digit")), 6)
            .as("benford_p"),
          round(pow(col("n") - col("tot") * log10(lit(1.0) + lit(1.0) / col("digit")), 2)
            / (col("tot") * log10(lit(1.0) + lit(1.0) / col("digit"))), 4)
            .as("chi2_term"))
        .orderBy("digit")
    }),
    // percentile ladder (p50/p90/p99) per group — ONE exact percentile
    // aggregate evaluating all three cut points over a single sort
    "a42_percentile_ladder" -> q((s, d) =>
      Tables.lineitem(s, d).groupBy("l_returnflag")
        .agg(expr("percentile(l_extendedprice, array(0.5, 0.9, 0.99))").as("p"))
        .select(col("l_returnflag"),
          round(element_at(col("p"), 1), 4).as("p50"),
          round(element_at(col("p"), 2), 4).as("p90"),
          round(element_at(col("p"), 3), 4).as("p99"))
        .orderBy("l_returnflag")),
    // deterministic sorted listagg (the LISTAGG/string_agg surface):
    // collect_set sorted before joining, so the string is order-stable
    "a45_sorted_listagg" -> q((s, d) =>
      Tables.orders(s, d).groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          array_join(array_sort(collect_set(col("o_orderstatus"))), ",")
            .as("statuses"))
        .orderBy("o_orderpriority")),
    // embedding label coherence: avg cosine of each vector to its OWN
    // label centroid vs the global centroid — the "are labels real
    // clusters?" diagnostic; centroids broadcast, one corpus pass
    "e8_label_coherence" -> q((s, d) => {
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("label"),
        transform(col("embedding"), _.cast("double")).as("v"))
      val centArr = Similarity.labelCentroids(Tables.embeddings(s, d))
        .groupBy("label")
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
          x => x.getField("c")).as("ce"))
      val globArr = Tables.embeddings(s, d)
        .select(posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy("dim").agg(round(avg(col("x")), 6).as("c"))
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
          x => x.getField("c")).as("ge"))
      def cos(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) = {
        val dp = graft.functions.HashExpressions.dotProduct _
        dp(a, b) / (sqrt(dp(a, a)) * sqrt(dp(b, b)))
      }
      emb.join(broadcast(centArr), "label")
        .crossJoin(broadcast(globArr))
        .select(col("label"), cos(col("v"), col("ce")).as("cl"),
          cos(col("v"), col("ge")).as("cg"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          round(avg("cl"), 4).as("avg_cos_label"),
          round(avg("cg"), 4).as("avg_cos_global"))
        .orderBy("label")
    }),
    // embedding-space drift: pairwise cosine between per-label mean
    // vectors (composes n5's centroids; 45 pairs from 10 labels)
    "e7_centroid_drift" -> q((s, d) => {
      val c = Similarity.labelCentroids(Tables.embeddings(s, d))
      val a = c.select(col("label").as("label_a"), col("dim"),
        col("c").as("ca"))
      val b = c.select(col("label").as("label_b"), col("dim"),
        col("c").as("cb"))
      a.join(b, Seq("dim")).filter(col("label_a") < col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(sum(col("ca") * col("cb")).as("ab"),
          sum(col("ca") * col("ca")).as("aa"),
          sum(col("cb") * col("cb")).as("bb"))
        .select(col("label_a"), col("label_b"),
          round(col("ab") / (sqrt(col("aa")) * sqrt(col("bb"))), 6)
            .as("cos_sim"))
        .orderBy("label_a", "label_b")
    }),
    // exact mode per group, deterministic smallest-value tie-break —
    // two hash aggs, max_by over (count, -value)
    "a41_mode_by_group" -> q((s, d) =>
      Relational.modeByGroup(Tables.lineitem(s, d), "l_returnflag",
        "l_quantity")),
    // Pareto / cumulative-share deciles over per-customer revenue (the
    // 80/20 concentration curve); keys-only window
    "w21_pareto_share" -> q((s, d) =>
      Relational.paretoShare(Tables.orders(s, d), "o_custkey",
        "o_totalprice")),
    // FK discovery: inclusion coefficients for three candidate key
    // relationships — valid FKs pin at 1.0, the reversed direction
    // exposes the keys with no fact rows
    "pr5_fk_inclusion" -> q((s, d) => {
      def row(name: String, c: DataFrame, ck: String, p: DataFrame,
              pk: String) =
        graft.operators.Profile.inclusionExact(c, ck, p, pk)
          .withColumn("fk", lit(name))
      row("orders.custkey->customer", Tables.orders(s, d), "o_custkey",
          Tables.customer(s, d), "c_custkey")
        .unionByName(row("lineitem.orderkey->orders", Tables.lineitem(s, d),
          "l_orderkey", Tables.orders(s, d), "o_orderkey"))
        .unionByName(row("customer.custkey->high_value_orders",
          Tables.customer(s, d), "c_custkey",
          Tables.orders(s, d).filter(col("o_totalprice") > 300000),
          "o_custkey"))
        .orderBy("fk")
    }),
    // pairwise correlation matrix (6 coefficients, ONE agg pass)
    "pr3_corr_matrix" -> q((s, d) =>
      graft.operators.Profile.corrMatrix(Tables.lineitem(s, d),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))),
    // exact weighted median per group — cumulative weight over the
    // value order with the peers-inclusive RANGE frame, so the pick is
    // deterministic; weights are integral so the boundary test is exact
    "a38_weighted_median" -> q((s, d) =>
      Relational.weightedMedian(Tables.lineitem(s, d), "l_returnflag",
        "l_extendedprice", "l_quantity")),
    // full weighted-quantile ladder from the SAME single window pass —
    // each cut point is one conditional min aggregate
    "a43_weighted_quantiles" -> q((s, d) =>
      Relational.weightedQuantiles(Tables.lineitem(s, d), "l_returnflag",
        "l_extendedprice", "l_quantity")),
    // graph shape diagnostics: degree moments + discrete Hill tail
    // exponent over the g3 derived graph — the pre-flight skew read
    "g6_degree_profile" -> q((s, d) =>
      graft.graph.DegreeProfile.outDegreeProfile(
        Tables.orders(s, d).select(
          pmod(col("o_custkey"), lit(500L)).as("src"),
          pmod(col("o_orderkey"), lit(499L)).as("dst")))),
    // equi-depth histogram (ntile over a total order): equal row mass
    // per bucket, per-bucket count/min/max pinned
    "a39_equidepth_hist" -> q((s, d) =>
      Relational.equiDepthHistogram(Tables.lineitem(s, d))),
    // nearest-station assignment over derived coordinates: broadcast
    // cross join + per-point lexicographic argmin, per-station roll-up
    "x9_nearest_station" -> q((s, d) => {
      val pts = Tables.events(s, d).select(
        col("event_id").as("point_id"),
        (pmod(col("user_id"), lit(171L)).cast("double") - 85.0 + 0.25)
          .as("lat"),
        (pmod(col("event_id"), lit(360L)).cast("double") - 180.0 + 0.5)
          .as("lon"))
      val st = Tables.nation(s, d).select(
        col("n_nationkey").cast("long").as("station_id"),
        (pmod(col("n_nationkey") * 37, lit(171)).cast("double") - 85.0 + 0.1)
          .as("s_lat"),
        (pmod(col("n_nationkey") * 91, lit(360)).cast("double") - 180.0 + 0.2)
          .as("s_lon"))
      graft.operators.Geo.nearestStationProfile(pts, st)
    }),
    // the same assignment through the latitude-band grid escalation
    // (the non-broadcastable-catalog path) — must reproduce x9's
    // brute-force oracle bit-for-bit
    "x9b_nearest_station_grid" -> q((s, d) => {
      val pts = Tables.events(s, d).select(
        col("event_id").as("point_id"),
        (pmod(col("user_id"), lit(171L)).cast("double") - 85.0 + 0.25)
          .as("lat"),
        (pmod(col("event_id"), lit(360L)).cast("double") - 180.0 + 0.5)
          .as("lon"))
      val st = Tables.nation(s, d).select(
        col("n_nationkey").cast("long").as("station_id"),
        (pmod(col("n_nationkey") * 37, lit(171)).cast("double") - 85.0 + 0.1)
          .as("s_lat"),
        (pmod(col("n_nationkey") * 91, lit(360)).cast("double") - 180.0 + 0.2)
          .as("s_lon"))
      graft.operators.Geo.nearestStationProfileGrid(pts, st, bandDeg = 10.0)
    }),
    // per-group TWO-feature ridge regression: closed-form 2×2 normal-
    // equation solve from one co-moment pass (multivariate a35)
    "a37_grouped_ridge" -> q((s, d) =>
      Relational.groupedRidge2(Tables.lineitem(s, d), "l_returnflag",
        col("l_quantity"), col("l_discount"), col("l_extendedprice"))),
    // bounded multi-source BFS (min hop distance from seeds {0,1,2}
    // over a sparse derived graph) — frontier-only joins, 4 hops
    "g5_bfs_hops" -> q((s, d) => {
      val edges = Tables.orders(s, d)
        .filter(pmod(col("o_orderkey"), lit(7L)) === 0)
        .select(pmod(col("o_custkey"), lit(500L)).as("src"),
          pmod(col("o_custkey") * 7 + col("o_orderkey"), lit(500L)).as("dst"))
      import s.implicits._
      graft.graph.Bfs.hopDistances(edges, Seq(0L, 1L, 2L).toDF("node"),
        maxHops = 4)
    }),
    // interpolated bigram LM quality scoring (the n-gram upgrade of
    // lm1): per-lang roll-up of per-doc mean log-probability
    "lm2_bigram_quality" -> q((s, d) =>
      graft.text.BigramLm.scoreByLang(Tables.documents(s, d))),
    // per-group OLS (slope/intercept/r²) in one co-moment agg pass
    "a35_grouped_ols" -> q((s, d) =>
      Relational.groupedOls(Tables.events(s, d), "event_type",
        expr("unix_millis(cast(ts as timestamp))") / lit(86400000.0),
        col("value"))),
    // dense_rank top-k WITH ties (vs w1's row_number semantics)
    "w18_dense_topk_ties" -> q((s, d) =>
      Relational.topValueBucketsWithTies(Tables.orders(s, d))),
    // bounded-state top-k per group: a custom Aggregator keeps ≤k
    // (value,id) pairs per group (O(k) state, map-side combine) — the
    // composable/streamable twin of the WindowGroupLimit route (see
    // TopK scaladoc); rows and ranks are identical to the row_number
    // oracle under (value desc, id asc)
    "w25_heap_topk" -> q((s, d) =>
      graft.operators.TopK.topKByGroup(Tables.orders(s, d),
          "o_orderpriority", "o_totalprice", "o_orderkey", k = 3)
        .orderBy("o_orderpriority", "rank")),
    // gaps-and-islands interval union per key: merge overlapping event
    // intervals, report covered seconds / island counts — both windows
    // partition by the key, so no global sort exists in the plan
    "u10_interval_union" -> q((s, d) => {
      val iv = Tables.events(s, d).select(
          pmod(col("user_id"), lit(50L)).as("ukey"),
          expr("unix_millis(cast(ts as timestamp)) DIV 1000").as("s0"),
          col("value"))
        .withColumn("e0", col("s0") +
          floor(least(greatest(col("value"), lit(0.0)), lit(300.0)) * 12)
            .cast("long") + lit(60L))
        .drop("value")
      graft.operators.Intervals.unionCoverage(iv, "ukey", "s0", "e0")
    }),
    // two-regressor OLS by normal equations in covariance form: ONE
    // partial→final aggregation pass, closed-form 2×2 inverse as
    // expressions, zero driver math (see MultiOls scaladoc)
    "ml12_multi_ols" -> q((s, d) =>
      graft.ml.MultiOls.ols2(Tables.lineitem(s, d),
        col("l_extendedprice") / 1000.0,
        col("l_quantity"), col("l_discount"), digits = 4)),
    // histogram-mode decision-stump split finding (the LightGBM/XGBoost
    // "hist" primitive): one corpus scan builds per-(feature,bin) label
    // stats; every candidate split is then scored on that tiny table
    "ml13_stump_split" -> q((s, d) =>
      graft.ml.Stump.bestSplits(liLabeled(s, d), "is_big", Seq(
        graft.ml.Stump.Feature("l_quantity", col("l_quantity"), 0.0, 50.0, 25),
        graft.ml.Stump.Feature("l_discount", col("l_discount"), 0.0, 0.1, 10),
        graft.ml.Stump.Feature("l_extendedprice", col("l_extendedprice"),
          0.0, 100000.0, 20)), topK = 5)),
    // two-round discrete AdaBoost over stumps: misclassified rows
    // DOUBLE their integer weight, so the whole boosting trajectory is
    // exact arithmetic; per round one corpus scan + a 1-row broadcast
    "ml16_boosted_stumps" -> q((s, d) =>
      graft.ml.Stump.boostedSplits(liLabeled(s, d), "is_big", Seq(
        graft.ml.Stump.Feature("l_quantity", col("l_quantity"), 0.0, 50.0, 25),
        graft.ml.Stump.Feature("l_discount", col("l_discount"), 0.0, 0.1, 10),
        graft.ml.Stump.Feature("l_extendedprice", col("l_extendedprice"),
          0.0, 100000.0, 20)), rounds = 2)),
    // decile lift/gains table over a continuous score vs an independent
    // outcome: tiles on (score desc, unique key); exact-int aggregation
    "ml17_decile_lift" -> q((s, d) =>
      graft.ml.Thresholds.decileLift(Tables.lineitem(s, d),
        col("l_quantity") + col("l_discount") * 20.0,
        (col("l_extendedprice") > lit(30000.0)).cast("int"),
        expr("l_orderkey * 10 + l_linenumber"))),
    // hop-reach profile N(h) from a 4-seed set: ONE bounded-SSSP run
    // with unit weights, then a cumulative count over the ≤5-row
    // distance histogram (the neighborhood function of HyperBall,
    // computed exactly on the probe seeds)
    "g14_reach_profile" -> q((s, d) => {
      val edges = Tables.orders(s, d)
        .select(pmod(col("o_custkey"), lit(150L)).as("src"),
          pmod(col("o_orderkey"), lit(151L)).as("dst"))
        .distinct().withColumn("w", lit(1L))
      val seeds = s.range(4).select(col("id").as("node"))
      val dist = graft.graph.Sssp.boundedSssp(edges, seeds, rounds = 4)
      val wc = org.apache.spark.sql.expressions.Window.orderBy("hop")
      dist.groupBy(col("dist").as("hop")).agg(count(lit(1)).as("n_at"))
        .withColumn("n_within", sum("n_at").over(wc))
        .select(col("hop"), col("n_at"), col("n_within"))
        .orderBy("hop")
    }),
    // precision/recall/F1 threshold ladder in ONE aggregation pass
    // (2·|T|+1 conditional sums — no explode, no per-threshold scan);
    // score and label are distinct columns so the curve is non-trivial
    "ml14_threshold_sweep" -> q((s, d) =>
      graft.ml.Thresholds.sweep(Tables.lineitem(s, d),
        col("l_quantity"),
        (col("l_extendedprice") > lit(30000.0)).cast("int"),
        thresholds = Seq(5.0, 15.0, 25.0, 35.0, 45.0))),
    // per-group skewness/excess-kurtosis from raw power moments (one
    // agg pass; explicit algebra, not the engine-specific builtins)
    "a47_higher_moments" -> q((s, d) =>
      Relational.higherMoments(Tables.lineitem(s, d),
        "l_returnflag", "l_quantity")),
    // k-anonymity / l-diversity census over quasi-identifiers: one
    // hash agg keyed by the QI tuple, scalar roll-up over group sizes
    "dq4_k_anonymity" -> q((s, d) =>
      graft.operators.Privacy.kAnonymityCensus(Tables.customer(s, d),
        Seq("c_mktsegment", "c_nationkey"),
        (col("c_acctbal") < 0).cast("int"), k = 10)),
    // DP-style Laplace mechanism on per-lang counts (sensitivity-1
    // count query, seeded inverse-CDF draw keyed on the lang code)
    "dp1_noised_counts" -> q((s, d) =>
      graft.operators.Privacy.laplaceNoisedCounts(
        Tables.documents(s, d), "lang",
        (ascii(substring(col("lang"), 1, 1)) * 256
          + ascii(substring(col("lang"), 2, 1))).cast("long"),
        eps = 0.5)),
    // exact rank-sum ROC AUC on a second fixture: does raw event value
    // separate purchases? — exercises Calibration.aucExact under heavy
    // cross-class score ties (ml11 covers the model-score path)
    "ml22_auc" -> q((s, d) =>
      graft.ml.Calibration.aucExact(
        Tables.events(s, d).filter(col("value").isNotNull)
          .withColumn("y",
            when(col("event_type") === "purchase", 1).otherwise(0)),
        "value", "y")),
    // reliability table over a deterministic synthetic probability
    // (multiplicative-hash of the user id) vs the value>50 label —
    // second fixture for Calibration.reliabilityBins (ml8 covers the
    // logreg-score path)
    "ml23_calibration_bins" -> q((s, d) =>
      graft.ml.Calibration.reliabilityBins(
        Tables.events(s, d).filter(col("value").isNotNull)
          .withColumn("p",
            pmod(col("user_id") * lit(2654435761L), lit(1000L)) / 1000.0)
          .withColumn("y", when(col("value") > 50, 1).otherwise(0)),
        "p", "y", bins = 10)),
    // Brier + expected calibration error scalars over the same fixture.
    // NULL values are filtered HERE like the sibling ml22/ml23/ml25
    // gates — the oracle's WHERE value IS NOT NULL must be mirrored, not
    // satisfied by brierEce's label coercion happening to see no NULLs
    "ml24_brier_ece" -> q((s, d) =>
      graft.ml.Eval.brierEce(
        Tables.events(s, d).filter(col("value").isNotNull).withColumn("p",
          pmod(col("user_id") * lit(2654435761L), lit(1000L)) / 1000.0),
        "p", col("value") > 50, nBins = 10)),
    // NDCG@10 + MRR: users as queries, value-desc ranking with event_id
    // tie-break, purchases as the relevant set
    "ml25_ndcg_mrr" -> q((s, d) =>
      graft.ml.Eval.ndcgMrr(
        Tables.events(s, d).filter(col("value").isNotNull),
        "user_id", "value", col("event_type") === "purchase",
        "event_id", k = 10)),
    // rank-biased overlap between the value ranking and a hash-score
    // ranking of each user's events — the ranker-comparison companion
    // to the BM25/RRF retrieval operators
    "ml28_rbo" -> q((s, d) =>
      graft.ml.Eval.rboTopK(
        Tables.events(s, d).filter(col("value").isNotNull),
        "user_id", scoreA = col("value"),
        scoreB = pmod(col("event_id") * lit(2654435761L), lit(1000L)),
        "event_id", k = 10, p = 0.9)),
    // leave-one-out target encoding of lang against n_chars, pinned by
    // per-lang distribution stats of the encoded feature
    "ml26_loo_target_encode" -> q((s, d) => {
      val enc = graft.ml.Eval.looTargetEncode(
        Tables.documents(s, d), "lang", "n_chars")
      enc.groupBy("lang").agg(
        count(col("loo_enc")).as("n_enc"),
        round(avg("loo_enc"), 6).as("mean_enc"),
        round(min("loo_enc"), 6).as("min_enc"),
        round(max("loo_enc"), 6).as("max_enc"),
        round(stddev_pop(col("loo_enc")), 6).as("sd_enc"))
        .orderBy("lang")
    }),
    // CUPED variance-reduced per-arm means: unit = user, pre/post split
    // at mid-month, arms by user parity (an A/A split — adjusted and
    // raw means coincide in expectation; var_ratio pins the reduction)
    "ex1_cuped" -> q((s, d) =>
      graft.operators.Experiment.cuped(Tables.events(s, d),
        "user_id", "value",
        preCol = dayofmonth(col("ts")) <= 15,
        armCol = pmod(col("user_id"), lit(2L)))),
    // sample-ratio-mismatch chi-square over distinct users in 3 arms
    // (df=2 → critical 5.991)
    "ex2_srm" -> q((s, d) =>
      graft.operators.Experiment.srmCheck(Tables.events(s, d),
        "user_id", pmod(col("user_id"), lit(3L)), critical = 5.991)),
    // 2x2 difference-in-differences: treat = even users, post = second
    // half of the month, metric = event value
    "ex3_did" -> q((s, d) =>
      graft.operators.Experiment.diffInDiff(Tables.events(s, d), "value",
        treatCol = pmod(col("user_id"), lit(2L)) === 0,
        postCol = dayofmonth(col("ts")) > 15)),
    // coarsened-exact-matching ATT: strata = event_type x 6h-of-day
    // bucket, treated = every-7th user
    "ex4_cem_att" -> q((s, d) =>
      graft.operators.Experiment.cemAtt(Tables.events(s, d), "value",
        treatCol = pmod(col("user_id"), lit(7L)) === 0,
        strataCols = Seq(col("event_type"),
          floor(hour(col("ts")) / 6).as("hb")))),
    // minimum detectable effect per event type at 5%/80% from per-arm
    // counts and the pooled variance
    "ex5_mde" -> q((s, d) =>
      graft.operators.Experiment.mde(Tables.events(s, d),
        "event_type", "value",
        armCol = pmod(col("user_id"), lit(2L)) === 0)),
    // two-proportion z-test per event type: value>50 conversion between
    // user-parity arms (binary-metric sibling of dr5's Welch test)
    "ex6_prop_ztest" -> q((s, d) =>
      graft.operators.Experiment.proportionTest(Tables.events(s, d),
        "event_type", successCol = col("value") > 50,
        armCol = pmod(col("user_id"), lit(2L)) === 0)),
    // Mantel-Haenszel pooled odds ratio across event-type strata:
    // every-7th-user treatment vs value>50 success
    "ex7_mantel_haenszel" -> q((s, d) =>
      graft.operators.Experiment.mantelHaenszel(Tables.events(s, d),
        treatCol = pmod(col("user_id"), lit(7L)) === 0,
        successCol = col("value") > 50,
        strataCols = Seq(col("event_type")))),
    // uplift by targeting-score bucket + running Qini numerator: the
    // hash-derived score, user-parity treatment, value>50 response
    "ex8_uplift_buckets" -> q((s, d) =>
      graft.operators.Experiment.upliftBuckets(
        Tables.events(s, d).withColumn("p",
          pmod(col("user_id") * lit(2654435761L), lit(1000L)) / 1000.0),
        "p", treatCol = pmod(col("user_id"), lit(2L)) === 0,
        responseCol = col("value") > 50, nBuckets = 10)),
    // delta-method CI for the ratio metric "purchase revenue per
    // event" with user-level clustering (row-level variance would be
    // wrong — rows within a user are correlated)
    "ex9_ratio_delta" -> q((s, d) =>
      graft.operators.Experiment.ratioDeltaMethod(Tables.events(s, d),
        "user_id",
        numCol = when(col("event_type") === "purchase", col("value"))
          .otherwise(lit(0.0)),
        denCol = lit(1.0))),
    // post-stratified mean of value: every-5th-user sample re-weighted
    // to the full population's event-type mix
    "ex10_poststrat" -> q((s, d) =>
      graft.operators.Experiment.postStratifiedMean(Tables.events(s, d),
        "event_type", "value",
        samplePred = pmod(col("user_id"), lit(5L)) === 0)),
    // Nelson-Aalen cumulative hazard + Breslow survival over the same
    // lifetime/censoring model as ml20's Kaplan-Meier curve
    "ml27_nelson_aalen" -> q((s, d) =>
      graft.ml.Survival.nelsonAalen(
        Tables.events(s, d).filter(col("value") > 150),
        "user_id", "ts", censorHorizonDays = 7)),
    // KMV bottom-k distinct sketch per source: deterministic sketch
    // state (k smallest FNV hashes), estimate oracle-pinned exactly —
    // the mergeable-sketch shape HLL can't pin bit-for-bit
    "a52_kmv_distinct" -> q((s, d) =>
      Relational.kmvDistinctEstimate(Tables.documents(s, d),
        "source", "text", k = 256)),
    // KMV set operations between two sources' n_chars value sets —
    // Jaccard / union / intersection from the combined bottom-k sketch
    "a53_kmv_setops" -> q((s, d) =>
      Relational.kmvSetOps(
        Tables.documents(s, d).withColumn("len_str",
          col("n_chars").cast("string")),
        "source", "len_str", "src0", "src1", k = 256)),
    // real JSON-path parsing of the events props column (from_json with
    // a schema, not regexp) — the oracle extracts the same field
    // textually
    "sql5_json_extract" -> q((s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("k",
                org.apache.spark.sql.types.IntegerType))))
            .getField("k").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"), count(col("k")).as("n_k"),
          sum(col("k").cast("long")).as("sum_k"),
          round(avg(col("k")), 6).as("avg_k"))
        .orderBy("event_type")),
    // Kish effective sample size per source for an uneven weight
    // column — the diagnostic every importance-weighted mix publishes
    "tp12_effective_sample_size" -> q((s, d) =>
      graft.pipeline.TrainingData.effectiveSampleSize(
        Tables.documents(s, d), "source",
        pmod(col("n_chars"), lit(101L)) + lit(1L))),
    // per-segment Gini over customer spend totals (rank formula; the
    // window ranks the key-cardinality totals table, never raw rows)
    "a49_gini" -> q((s, d) => {
      val j = Tables.orders(s, d).join(Tables.customer(s, d),
        col("o_custkey") === col("c_custkey"))
      Relational.giniByGroup(j, "c_mktsegment", "c_custkey", "o_totalprice")
    }),
    // grouped Spearman rank correlation: average ranks (tie-correct)
    // from per-group windows, then ONE corr aggregate — value vs
    // hour-of-day, so the heavy y-ties exercise the averaging
    "a48_spearman" -> q((s, d) =>
      Relational.spearmanByGroup(
        Tables.events(s, d).withColumn("hr", hour(col("ts")).cast("long")),
        "event_type", "value", "hr")),
    // strongly connected components of the dense directed mod-graph:
    // FW-BW peeling with trim; scc = min member id, full map pinned
    "g19_scc" -> q((s, d) =>
      graft.graph.Scc.components(
        Tables.orders(s, d).select(
          pmod(col("o_custkey"), lit(150L)).as("src"),
          pmod(col("o_orderkey"), lit(150L)).as("dst"))
          .filter(col("src") =!= col("dst")))),
    // condensation census of the same digraph: SCCs contracted, DAG
    // edge count + size distribution extremes
    "g20_condensation" -> q((s, d) =>
      graft.graph.Scc.condensation(
        Tables.orders(s, d).select(
          pmod(col("o_custkey"), lit(150L)).as("src"),
          pmod(col("o_orderkey"), lit(150L)).as("dst"))
          .filter(col("src") =!= col("dst")))),
    // Kahn layers over the condensation DAG of a 3-level graph whose
    // top level is internally cyclic — levels 0/1 condense to
    // singletons at layers 0/1, the level-2 SCC(s) land at layer 2
    "g21_topo_layers" -> q((s, d) => {
      val o = Tables.orders(s, d)
      val lvl01 = o.select(pmod(col("o_custkey"), lit(40L)).as("src"),
        (pmod(col("o_orderkey"), lit(40L)) + 40L).as("dst"))
      val lvl12 = o.select((pmod(col("o_custkey"), lit(40L)) + 40L).as("src"),
        (pmod(col("o_orderkey"), lit(40L)) + 80L).as("dst"))
      val lvl22 = o.select((pmod(col("o_custkey"), lit(40L)) + 80L).as("src"),
        (pmod(col("o_orderkey"), lit(40L)) + 80L).as("dst"))
        .filter(col("src") =!= col("dst"))
      val edges = lvl01.union(lvl12).union(lvl22)
      // fused components→condensationEdges→topoLayers: same result,
      // shares the cleaned edge list / unsorted labeling (r14)
      graft.graph.Scc.condensationLayers(edges)
    }),
    // degree assortativity (Newman 2002): corr of endpoint degrees
    // over both orientations of the undirected simple graph
    "g12_assortativity" -> q((s, d) => {
      val edges = Tables.orders(s, d).select(
        pmod(col("o_custkey"), lit(300L)).as("src"),
        pmod(col("o_orderkey"), lit(307L)).as("dst"))
      graft.graph.GraphStats.degreeAssortativity(edges)
    }),
    // merge/purge entity resolution: sorted-neighborhood adjacency →
    // JW-chained clusters as gaps-and-islands (no recursion) → golden
    // record election; per-brand census pinned
    "er1_golden_record" -> q((s, d) =>
      graft.dedup.GoldenRecord.censusByBlock(Tables.part(s, d),
        "p_brand", "p_name", "p_partkey")),
    // bounded-round Bellman-Ford from a seed set: exact integer
    // distances, one join + one min-agg per round (weighted g5)
    "g11_sssp" -> q((s, d) => {
      val edges = Tables.orders(s, d)
        .groupBy(pmod(col("o_custkey"), lit(120L)).as("src"),
          pmod(col("o_orderkey"), lit(127L)).as("dst"))
        .agg(min(pmod(col("o_orderkey"), lit(7L)) + lit(1L)).as("w"))
      val seeds = s.range(5).select(col("id").as("node"))
      graft.graph.Sssp.boundedSssp(edges, seeds, rounds = 4)
        .orderBy("node")
    }),
    // anti-join: per-segment customers with NO high-value order (the
    // raw "no orders at all" set is empty in these fixtures — every
    // custkey appears — so the filter makes the anti-set non-trivial)
    "j11_anti_join" -> q((s, d) =>
      Joins.customersWithoutOrders(Tables.customer(s, d),
        Tables.orders(s, d).filter(col("o_totalprice") > 450000))),
    // null-safe join: NULL keys match as ONE aggregated bucket per side
    "j10_nullsafe_join" -> q((s, d) =>
      Joins.nullSafeKeyMatch(
        Tables.orders(s, d),
        when(pmod(col("o_custkey"), lit(10L)) === 0, lit(null))
          .otherwise(pmod(col("o_custkey"), lit(97L))),
        Tables.customer(s, d),
        when(pmod(col("c_custkey"), lit(10L)) === 0, lit(null))
          .otherwise(pmod(col("c_custkey"), lit(97L))))),
    // the full star: BOTH fact tables shuffle-joined on orderkey, the
    // snowflake dims broadcast, date filter pushed to the orders scan
    "x8_q5_revenue" -> q((s, d) =>
      Joins.revenueByNation(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.nation(s, d), Tables.region(s, d))),
    // TPC-H Q3's shape: segment + date filters pushed to both scans,
    // fact-fact join, top-10 revenue orderkeys via a bounded heap
    "x10_q3_shipping" -> q((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") > lit("1997-06-30").cast("timestamp_ntz"))
        .join(Tables.orders(s, d)
            .filter(year(col("o_orderdate")) <= 1997),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d)
            .filter(col("c_mktsegment") === "BUILDING"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderpriority")
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"), count(lit(1)).as("n_items"))
        .orderBy(desc("revenue"), asc("l_orderkey"))
        .limit(10)),
    // category-balance report (entropy / normalized entropy / HHI) —
    // the training-mix skew diagnostic, closed-form in two hash aggs
    "a36_distribution_balance" -> q((s, d) =>
      Relational.distributionBalance(Tables.documents(s, d), "source", "lang")),
    // correlated SCALAR subquery through the SQL surface (Catalyst
    // decorrelates to an aggregate+join; TPC-H Q17's shape)
    "sql4_scalar_subquery" -> q((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("v_lineitem")
      Tables.part(s, d).createOrReplaceTempView("v_part")
      s.sql("""SELECT p_brand, count(*) AS n_small,
                 round(sum(l_extendedprice), 2) AS small_revenue
               FROM v_lineitem l JOIN v_part p ON l.l_partkey = p.p_partkey
               WHERE l.l_quantity < (SELECT 0.5 * avg(l_quantity)
                 FROM v_lineitem l2 WHERE l2.l_partkey = p.p_partkey)
               GROUP BY 1 ORDER BY 1""")
    }),
    "a21_corr_slope" -> q((s, d) => Relational.corrAndSlope(Tables.lineitem(s, d))),
    "a26_heavy_hitters" -> q((s, d) =>
      Relational.verifiedHeavyHitters(Tables.events(s, d), "user_id", support = 0.008)),
    // the sketch quantile (100 TB path for A12/A7's exact percentiles)
    // checked by its own contract: percentile_approx(accuracy=10000)
    // bounds RANK error at 1e-4, so the count of rows below/at the
    // approx median must bracket the 50% rank within ±1% (wide margin
    // over the sketch bound + per-value tie mass); the exact median is
    // pinned numerically alongside
    "a27_quantile_approx" -> q((s, d) => {
      val li = Tables.lineitem(s, d).select("l_returnflag", "l_quantity")
      val g = li.groupBy("l_returnflag").agg(
        round(expr("percentile(l_quantity, 0.5)"), 4).as("median_exact"),
        expr("percentile_approx(l_quantity, 0.5, 10000)").as("median_approx"),
        count(lit(1)).as("n"))
      li.join(g, "l_returnflag")
        .groupBy("l_returnflag")
        .agg(first("median_exact").as("median_exact"),
          sum(when(col("l_quantity") < col("median_approx"), 1L).otherwise(0L)).as("lt"),
          sum(when(col("l_quantity") <= col("median_approx"), 1L).otherwise(0L)).as("le"),
          max("n").as("n"))
        .select(col("l_returnflag"), col("median_exact"),
          (col("lt") <= col("n") * 0.51 && col("le") >= col("n") * 0.49)
            .as("approx_rank_in_bounds"))
        .orderBy("l_returnflag")
    }),
    // --- set ops / joins (SURVEY §2.3, §2.7) ---
    // full SQL-string path: temp views + spark.sql, same Catalyst plans
    // as the DataFrame API (the engine's second query surface)
    "sql1_segment_priority" -> q((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("v_orders")
      Tables.customer(s, d).createOrReplaceTempView("v_customer")
      s.sql("""SELECT c_mktsegment, o_orderpriority, count(*) AS cnt,
                 round(sum(o_totalprice), 0) AS total
               FROM v_orders JOIN v_customer ON o_custkey = c_custkey
               GROUP BY 1, 2 ORDER BY 1, 2""")
    }),
    // correlated EXISTS / NOT EXISTS through the SQL surface (Catalyst
    // rewrites to semi/anti joins — same text runs on the oracle)
    "sql3_exists_subquery" -> q((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("v_orders")
      Tables.customer(s, d).createOrReplaceTempView("v_customer")
      s.sql("""SELECT c_mktsegment,
                 count(*) AS n_customers,
                 count(CASE WHEN EXISTS (SELECT 1 FROM v_orders
                   WHERE o_custkey = c_custkey AND o_totalprice > 300000)
                   THEN 1 END) AS n_big_spenders,
                 count(CASE WHEN NOT EXISTS (SELECT 1 FROM v_orders
                   WHERE o_custkey = c_custkey) THEN 1 END) AS n_dormant
               FROM v_customer GROUP BY 1 ORDER BY 1""")
    }),
    // the observe() metrics surface: input-side counters collected ON
    // the same pass as the query (the monitoring hook a production
    // pipeline exports per run — no second scan); both the observed
    // metrics and the pipeline output are pinned
    "ob1_observed_metrics" -> q((s, d) => {
      val obs = org.apache.spark.sql.Observation()
      // sum(value) observes as null on an empty input — coalesce so the
      // metric read below can't NPE at other scale factors
      val filtered = Tables.events(s, d)
        .observe(obs, count(lit(1)).as("n_in"),
          coalesce(round(sum("value"), 0), lit(0.0)).as("v_in"))
        .filter(col("value") > 100)
      val nOut = filtered.count() // the action that populates the observation
      val m = obs.get
      import s.implicits._
      Seq((m("n_in").asInstanceOf[Long], m("v_in").asInstanceOf[Double], nOut))
        .toDF("n_in", "v_in", "n_out")
    }),
    // pre-flight join-size estimation under contract: the exact row /
    // distinct / overlap / join-size figures are pinned, and the oracle
    // DEMANDS the HLL sketches land within 3·rsd and the size estimate
    // within 15% (a27/t12/pr2 pattern)
    "j8_join_cardinality" -> q((s, d) => {
      val orders = Tables.orders(s, d)
      val cust = Tables.customer(s, d)
      val est = graft.operators.Joins
        .joinCardinalityEstimate(orders, "o_custkey", cust, "c_custkey")
        .select(col("d_left").as("e_dl"), col("d_right").as("e_dr"),
          col("d_overlap").as("e_ov"), col("est_join_rows").as("e_jr"))
      val exact = orders
        .agg(count(lit(1)).as("n_left"),
          countDistinct(col("o_custkey")).as("d_left"))
        .crossJoin(cust.agg(count(lit(1)).as("n_right"),
          countDistinct(col("c_custkey")).as("d_right")))
        .crossJoin(orders.select(col("o_custkey").as("k")).distinct()
          .join(cust.select(col("c_custkey").as("k")).distinct(), "k")
          .agg(count(lit(1)).as("d_overlap")))
        .crossJoin(orders.join(cust, orders("o_custkey") === cust("c_custkey"))
          .agg(count(lit(1)).as("join_rows")))
      exact.crossJoin(est)
        .select(col("n_left"), col("n_right"), col("d_left"), col("d_right"),
          col("d_overlap"), col("join_rows"),
          (abs(col("e_dl") - col("d_left")) <= col("d_left") * 0.06 &&
            abs(col("e_dr") - col("d_right")) <= col("d_right") * 0.06 &&
            abs(col("e_ov") - col("d_overlap")) <= col("d_overlap") * 0.12)
            .as("sketch_within_bounds"),
          (abs(col("e_jr") - col("join_rows")) <= col("join_rows") * 0.15)
            .as("estimate_within_15pct"))
    }),
    // weighted PageRank over a derived 100-node key graph, 5 fixed
    // iterations — the oracle replays every round as unrolled CTE layers
    // (float drift across engines ~1e-15, far under the 1e-6 rounding),
    // so the full iterative fixpoint is value-pinned; 5 layers pin the
    // recurrence as strongly as 10 at half the per-iteration job cost
    "g1_pagerank" -> q((s, d) => {
      val edges = Tables.orders(s, d)
        .groupBy(pmod(col("o_custkey"), lit(100L)).as("src"),
          pmod(col("o_orderkey"), lit(97L)).as("dst"))
        .agg(count(lit(1)).as("weight"))
      graft.graph.PageRank.pagerank(edges, damping = 0.85, iters = 5)
        .select(col("node"), round(col("rank"), 6).as("rank"))
        .orderBy("node")
    }),
    // degree-ordered triangle counting (Schank-Wagner orientation:
    // O(m^1.5) wedge work, hub-safe) over a sparser derived graph;
    // counts + global clustering coefficient pinned exactly
    // bounded-round k-core peeling on the same synthetic order graph
    // family as g3: 6 rounds at k=2 AND k=5 (k=2 cascades hard on the
    // sparse sf0.001 graph, k=5 on the denser SFs), both survivor
    // degree histograms pinned under one k-labeled output
    "g7_kcore" -> q((s, d) => {
      val edges = Tables.orders(s, d).select(
        pmod(col("o_custkey"), lit(3000L)).as("src"),
        pmod(col("o_orderkey"), lit(2999L)).as("dst"))
      Seq(2, 5).map(k =>
          graft.graph.Kcore.degreeHistogram(edges, k = k, rounds = 6)
            .select(lit(k).as("k"), col("deg"), col("n_vertices")))
        .reduce(_.unionAll(_))
        .orderBy("k", "deg")
    }),
    // Kleinberg HITS over a 200-src/211-dst derived graph, 5 full
    // hub+auth rounds with per-half-step L2 norms — the oracle replays
    // every half-step as unrolled CTE layers, so both mutually
    // recursive score vectors are value-pinned end to end
    "g8_hits" -> q((s, d) => {
      val edges = Tables.orders(s, d).select(
        pmod(col("o_custkey"), lit(200L)).as("src"),
        pmod(col("o_orderkey"), lit(211L)).as("dst"))
      graft.graph.Hits.hits(edges, iters = 5)
        .select(col("node"), round(col("hub"), 6).as("hub"),
          round(col("auth"), 6).as("auth"))
        .orderBy("node")
    }),
    // synchronous min-tie-break label propagation, 4 rounds: community
    // sizes pinned exactly (integer counts + deterministic tie-break →
    // no float drift anywhere in this gate)
    "g9_label_prop" -> q((s, d) => {
      val edges = Tables.orders(s, d).select(
        pmod(col("o_custkey"), lit(1000L)).as("src"),
        pmod(col("o_orderkey"), lit(997L)).as("dst"))
      graft.graph.LabelProp.communities(edges, rounds = 4)
        .orderBy("label")
    }),
    // modularity of g9's label-prop partition: is the community
    // structure real? (counts integer end-to-end; one float roll-up)
    "g15_modularity" -> q((s, d) => {
      val edges = Tables.orders(s, d).select(
        pmod(col("o_custkey"), lit(1000L)).as("src"),
        pmod(col("o_orderkey"), lit(997L)).as("dst"))
      graft.graph.GraphStats.modularity(edges, rounds = 4)
    }),
    // personalized PageRank (TrustRank shape): teleport mass uniform
    // over a small seed set instead of everywhere; the oracle replays
    // all 5 rounds — including the dangling mass re-entering through
    // the seed vector — as unrolled CTE layers
    "g10_ppr" -> q((s, d) => {
      val edges = Tables.orders(s, d)
        .groupBy(pmod(col("o_custkey"), lit(80L)).as("src"),
          pmod(col("o_orderkey"), lit(83L)).as("dst"))
        .agg(count(lit(1)).as("weight"))
      val seeds = edges.select(col("src").as("node"))
        .union(edges.select(col("dst").as("node")))
        .distinct().filter(col("node") < 8)
      graft.graph.PageRank.personalized(edges, seeds,
          damping = 0.85, iters = 5)
        .select(col("node"), round(col("rank"), 6).as("rank"))
        .orderBy("node")
    }),
    // ordered 3-step funnel (view → click → purchase) per user, both
    // strict-ordering and 48h-max-gap variants in one pinned output;
    // every stage join/agg is keyed on user_id so the plan reuses one
    // hash partitioning end to end
    "f1_funnel" -> q((s, d) => {
      val ev = Tables.events(s, d)
      val steps = Seq("view", "click", "purchase")
      val strict = graft.operators.Funnel
        .ordered(ev, "user_id", "ts", "event_type", steps)
        .withColumn("variant", lit("strict"))
      val gapped = graft.operators.Funnel
        .ordered(ev, "user_id", "ts", "event_type", steps,
          Some(expr("INTERVAL 48 HOURS")))
        .withColumn("variant", lit("gap48h"))
      strict.unionByName(gapped).orderBy("variant", "step")
    }),
    "g3_triangle_count" -> q((s, d) => {
      val edges = Tables.orders(s, d).select(
        pmod(col("o_custkey"), lit(500L)).as("src"),
        pmod(col("o_orderkey"), lit(499L)).as("dst"))
      graft.graph.Triangles.triangleStats(edges)
    }),
    // per-node Watts-Strogatz local clustering coefficient from the
    // same oriented corner stream (each triangle tallied once per
    // corner — no per-node neighborhood expansion); all 500 node rows
    // pinned exactly against the oracle's unrolled triangle join
    "g4_local_clustering" -> q((s, d) => {
      val edges = Tables.orders(s, d).select(
        pmod(col("o_custkey"), lit(500L)).as("src"),
        pmod(col("o_orderkey"), lit(499L)).as("dst"))
      graft.graph.Triangles.localClustering(edges)
    }),
    // pairwise association rules (support/confidence/lift) over the
    // brands co-occurring in an order: the quadratic step is per-basket
    // bounded and co-partitioned on the basket key; marginals broadcast
    "mb1_brand_pairs" -> q((s, d) =>
      graft.operators.MarketBasket.pairRules(
        Tables.lineitem(s, d)
          .join(broadcast(Tables.part(s, d)),
            col("l_partkey") === col("p_partkey"))
          .select(col("l_orderkey"), col("p_brand")),
        "l_orderkey", "p_brand")),
    // PageRank with dangling nodes by construction: dst ids live in
    // [50,103) while src ids live in [0,50), so every dst node is a
    // sink and the per-iteration dangling-mass redistribution carries
    // roughly half the rank mass — the branch g1's graph never
    // exercises (its dst range is a subset of its src range)
    "g2_pagerank_dangling" -> q((s, d) => {
      val edges = Tables.orders(s, d)
        .groupBy(pmod(col("o_custkey"), lit(50L)).as("src"),
          (lit(50L) + pmod(col("o_orderkey"), lit(53L))).as("dst"))
        .agg(count(lit(1)).as("weight"))
      graft.graph.PageRank.pagerank(edges, damping = 0.85, iters = 5)
        .select(col("node"), round(col("rank"), 6).as("rank"))
        .orderBy("node")
    }),
    // 3-D Morton key (the general N-dim form real layouts use) pinned
    // the same way as z1
    "z2_zorder3_bucket" -> q((s, d) =>
      Tables.lineitem(s, d)
        .select(graft.operators.ZOrder.zorderKeyN(Seq(
          pmod(col("l_partkey"), lit(16L)), pmod(col("l_suppkey"), lit(16L)),
          pmod(col("l_linenumber"), lit(16L))), bits = 4).as("zkey"),
          col("l_orderkey"))
        .groupBy(floor(col("zkey") / 64).as("z_bucket"))
        .agg(count(lit(1)).as("n_rows"), min("zkey").as("z_min"),
          max("zkey").as("z_max"), sum("l_orderkey").as("key_sum"))
        .orderBy("z_bucket")),
    // data-level set ops: distinct-key EXCEPT / INTERSECT between two
    // overlapping filtered views, membership pinned via id aggregates
    "u3_except_intersect" -> q((s, d) => {
      val a = Tables.orders(s, d).filter(col("o_orderkey") % 2 === 0)
        .select(col("o_custkey"))
      val b = Tables.orders(s, d).filter(col("o_totalprice") > 150000)
        .select(col("o_custkey"))
      val inter = a.intersect(b)
        .agg(lit("intersect").as("op"), count(lit(1)).as("n_keys"),
          sum("o_custkey").as("key_sum"))
      val exc = a.except(b)
        .agg(lit("a_except_b").as("op"), count(lit(1)).as("n_keys"),
          sum("o_custkey").as("key_sum"))
      inter.unionByName(exc).orderBy("op")
    }),
    // the SparkSessionExtensions surface end to end: SQL text resolved
    // through the injected native functions (fnv1a32, shingle_hashes),
    // pinned against the oracle's independent reimplementation. The
    // shingle COUNT is hash-family-agnostic (ShingleHashes dedups by
    // hash; the oracle dedups the shingle strings), so the xxhash64
    // default is gateable even though the oracle cannot compute xxh64.
    "sql2_native_funcs" -> q((s, d) => {
      Tables.documents(s, d).createOrReplaceTempView("v_documents")
      s.sql("""SELECT lang, count(*) AS n_docs,
                 CAST(sum(fnv1a32(CAST(doc_id AS STRING)) % 97) AS BIGINT)
                   AS id_hash_sum,
                 CAST(sum(size(shingle_hashes(text, 3))) AS BIGINT)
                   AS n_shingles
               FROM v_documents GROUP BY lang ORDER BY lang""")
    }),
    "u2_snapshot_diff" -> q((s, d) => {
      val orders = Tables.orders(s, d)
      // deterministic synthetic snapshots: old = keys not divisible by 7,
      // new = keys not divisible by 5, with every 3rd key's price bumped
      val oldSnap = orders.filter(col("o_orderkey") % 7 =!= 0)
      val newSnap = orders.filter(col("o_orderkey") % 5 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 3 === 0, round(col("o_totalprice") * 1.1, 2))
            .otherwise(col("o_totalprice")))
      graft.operators.SnapshotDiff.diffCounts(oldSnap, newSnap,
        "o_orderkey", Seq("o_orderstatus", "o_totalprice"))
    }),
    // SCD type-2 dimension history from the orders log: per customer,
    // priority observations ordered by (date, orderkey) collapse into
    // validity-interval versions — full history rows pinned
    "u5_scd2_history" -> q((s, d) =>
      graft.operators.Scd2.build(
          Tables.orders(s, d).filter(col("o_custkey") < 100),
          "o_custkey", "o_orderdate", Seq("o_orderpriority"), "o_orderkey")
        .orderBy("o_custkey", "version")),
    // retention pruning: versions ended before the cutoff dropped, the
    // covering version clamped — as-of answers at/after the cutoff are
    // unchanged by construction; pruned history fully pinned
    "u9_scd2_prune" -> q((s, d) => {
      val hist = graft.operators.Scd2.build(
        Tables.orders(s, d).filter(col("o_custkey") < 100),
        "o_custkey", "o_orderdate", Seq("o_orderpriority"), "o_orderkey")
      graft.operators.Scd2.pruneBefore(hist,
          java.sql.Timestamp.valueOf("1997-01-01 00:00:00"), "o_custkey")
        .orderBy("o_custkey", "version")
    }),
    // cumulative distinct users per day: first-seen election + one
    // bounded (days-sized) running-sum window — never a running
    // distinct over raw events
    "w23_cumulative_users" -> q((s, d) => {
      // high-value filter spreads first-seen dates (every user's FULL
      // stream otherwise starts day 1 — the w8 trick)
      val firstSeen = Tables.events(s, d)
        .filter(col("value") > 150)
        .groupBy("user_id")
        .agg(min(col("ts").cast("date")).as("day"))
        .groupBy("day").agg(count(lit(1)).as("new_users"))
      firstSeen
        .withColumn("cum_users",
          sum("new_users").over(
            org.apache.spark.sql.expressions.Window.orderBy("day")))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("new_users"), col("cum_users"))
        .orderBy("day")
    }),
    // late-arriving repair: history built WITHOUT the late slice, then
    // mergeLate rebuilds only the touched keys — the oracle does the
    // FULL rebuild over base ∪ late, so the incremental path is pinned
    // exactly equivalent to it
    "u8_scd2_late_merge" -> q((s, d) => {
      val base = Tables.orders(s, d)
        .filter(col("o_custkey") < 100 && pmod(col("o_orderkey"), lit(13L)) =!= 0)
      val late = Tables.orders(s, d)
        .filter(col("o_custkey") < 100 && pmod(col("o_custkey"), lit(5L)) === 0
          && pmod(col("o_orderkey"), lit(13L)) === 0)
      val hist = graft.operators.Scd2.build(
        base, "o_custkey", "o_orderdate", Seq("o_orderpriority"), "o_orderkey")
      graft.operators.Scd2.mergeLate(hist, base, late,
          "o_custkey", "o_orderdate", Seq("o_orderpriority"), "o_orderkey")
        .orderBy("o_custkey", "version")
    }),
    // point-in-time (as-of) lookup against the same SCD2 history: the
    // "dimension value as of date X" query — at most one version per
    // key by the half-open interval construction, full row list pinned
    "u7_scd2_asof" -> q((s, d) => {
      val hist = graft.operators.Scd2.build(
        Tables.orders(s, d).filter(col("o_custkey") < 100),
        "o_custkey", "o_orderdate", Seq("o_orderpriority"), "o_orderkey")
      graft.operators.Scd2.asOf(hist,
          java.sql.Timestamp.valueOf("1995-06-15 00:00:00"))
        .select(col("o_custkey"), col("o_orderpriority"), col("version"),
          col("valid_from"))
        .orderBy("o_custkey")
    }),
    // interval-overlap join on the 10-minute grid: synthetic per-event
    // validity windows on two disjoint user bands; every overlapping
    // pair emitted exactly once (first-shared-bucket dedup) and the
    // full pair list pinned
    "j9_interval_overlap" -> q((s, d) => {
      val base = Tables.events(s, d).select(col("event_id"), col("user_id"),
        // house rule (Windows.scala): unix_millis rejects the fixtures'
        // TIMESTAMP_NTZ — cast first (exact under the pinned UTC session)
        expr("unix_millis(cast(ts as timestamp))").as("_ms"))
      val left = base.filter(col("user_id") < 5)
        .select(col("event_id").as("l_id"), col("_ms").as("ls"),
          (col("_ms") + (col("event_id") % 7 + 1) * 60000L).as("le"))
      val right = base.filter(col("user_id").between(5, 9))
        .select(col("event_id").as("r_id"), col("_ms").as("rs"),
          (col("_ms") + (col("event_id") % 11 + 1) * 60000L).as("re"))
      graft.operators.RangeJoin
        .intervalOverlap(left, right, "ls", "le", "rs", "re", 600000L)
        .orderBy("l_id", "r_id")
    }),
    // count-min sketch frequency estimates: deterministic fnv-hashed
    // 4×256 sketch over user_id, probed for ids 1..10 — estimates pinned
    // exactly (the sketch is a pure function of the data) and the
    // never-underestimate invariant demanded alongside the exact counts
    "a29_cms_estimates" -> q((s, d) => {
      val ev = Tables.events(s, d)
      val sketch = graft.operators.CountMin.build(ev, col("user_id"),
        depth = 4, width = 256)
      val probes = ev.filter(col("user_id").between(1, 10))
      val est = graft.operators.CountMin.estimate(sketch,
        probes.select(col("user_id")), col("user_id"), depth = 4, width = 256)
      val exact = probes.groupBy(col("user_id").cast("string").as("key"))
        .agg(count(lit(1)).as("exact_cnt"))
      est.join(exact, "key")
        .select(col("key").cast("long").as("user_id"), col("est"),
          col("exact_cnt"), (col("est") >= col("exact_cnt")).as("never_under"))
        .orderBy("user_id")
    }),
    // temporal (point-in-time) dimension join: every order matched to
    // the priority version in effect at its own order date — the half-
    // open validity intervals make the match one-to-exactly-one here
    "u6_scd2_temporal_join" -> q((s, d) => {
      val pool = Tables.orders(s, d).filter(col("o_custkey") < 50)
      val hist = graft.operators.Scd2.build(pool,
        "o_custkey", "o_orderdate", Seq("o_orderpriority"), "o_orderkey")
      val facts = pool.select("o_orderkey", "o_custkey", "o_orderdate")
      graft.operators.Scd2.joinAsOf(facts, hist, "o_custkey", "o_orderdate")
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderpriority"), col("version"))
        .orderBy("o_orderkey")
    }),
    // MERGE/upsert applied to a snapshot: deterministic synthetic
    // changeset (deletes, in-place updates, brand-new keys), result
    // membership pinned per status via count / key-sum / price mass
    // zone-map build: per-layout-zone min/max/count of the query column
    // — the data-skipping metadata AS DATA; 32 fixed zones pinned
    "ix1_zone_map" -> q((s, d) =>
      graft.sources.ZoneMap.build(Tables.lineitem(s, d),
          "l_orderkey", "l_extendedprice", 32)
        .select(col("zone"), col("n_rows"),
          round(col("stat_min"), 4).as("stat_min"),
          round(col("stat_max"), 4).as("stat_max"))),
    // zone-map skip report for a ~5%-selectivity price range: price is
    // uncorrelated with the orderkey layout, so the report must say
    // "scan everything" — the measurable re-cluster diagnosis
    "ix2_zone_skip" -> q((s, d) =>
      graft.sources.ZoneMap.skipReport(
        graft.sources.ZoneMap.build(Tables.lineitem(s, d),
          "l_orderkey", "l_extendedprice", 32),
        1000.0, 6000.0)),
    // incremental view maintenance: the count/sum view rolled forward
    // from the changeset ALONE (one changeset-keyed join against the
    // base — never a rescan); pinned against the oracle's full
    // recompute of the merged snapshot
    "iv1_incremental_agg" -> q((s, d) => {
      val base = Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val deletes = base.filter(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey"), lit("delete").as("op"),
          lit(null).cast("string").as("o_orderstatus"),
          lit(null).cast("double").as("o_totalprice"))
      val updates = base
        .filter(col("o_orderkey") % 5 =!= 0 && col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"), lit("upsert").as("op"),
          col("o_orderstatus"),
          round(col("o_totalprice") * 1.2, 2).as("o_totalprice"))
      val inserts = base.filter(col("o_orderkey") % 11 === 0)
        .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
          lit("upsert").as("op"), lit("N").as("o_orderstatus"),
          lit(100.0).as("o_totalprice"))
      val changes = deletes.unionByName(updates).unionByName(inserts)
      val oldView = graft.operators.SnapshotDiff.aggView(
        base, "o_orderstatus", "o_totalprice")
      graft.operators.SnapshotDiff.incrementalAggUpdate(oldView, base,
          changes, "o_orderkey", "o_orderstatus", "o_totalprice")
        .select(col("o_orderstatus"), col("cnt"),
          round(col("val_sum"), 0).as("val_sum"))
        .orderBy("o_orderstatus")
    }),
    "u4_merge_apply" -> q((s, d) => {
      val base = Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val deletes = base.filter(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey"), lit("delete").as("op"),
          lit(null).cast("string").as("o_orderstatus"),
          lit(null).cast("double").as("o_totalprice"))
      val updates = base
        .filter(col("o_orderkey") % 5 =!= 0 && col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"), lit("upsert").as("op"),
          col("o_orderstatus"),
          round(col("o_totalprice") * 1.2, 2).as("o_totalprice"))
      val inserts = base.filter(col("o_orderkey") % 11 === 0)
        .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
          lit("upsert").as("op"), lit("N").as("o_orderstatus"),
          lit(100.0).as("o_totalprice"))
      val merged = graft.operators.SnapshotDiff.applyChangeset(
        base, deletes.unionByName(updates).unionByName(inserts), "o_orderkey")
      merged.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), sum("o_orderkey").as("key_sum"),
          round(sum("o_totalprice"), 0).as("total"))
        .orderBy("o_orderstatus")
    }),
    // persistent bucketed layout end to end: both join sides written
    // bucketBy(8) on the key, then the co-located join (SortMergeJoin
    // with ZERO Exchange — asserted in BucketingSpec) must reproduce the
    // plain shuffled join's result exactly. At 100 TB this is the layout
    // that amortizes a repeated fact-fact join's shuffle across jobs.
    "b1_bucketed_join" -> q((s, d) => {
      graft.sources.Bucketing.writeBucketed(
        Tables.orders(s, d).select("o_custkey", "o_totalprice"),
        "graft_b1_orders", "o_custkey", buckets = 8)
      graft.sources.Bucketing.writeBucketed(
        Tables.customer(s, d)
          .select(col("c_custkey").as("o_custkey"), col("c_mktsegment")),
        "graft_b1_customer", "o_custkey", buckets = 8)
      graft.sources.Bucketing
        .coLocatedJoin(s, "graft_b1_orders", "graft_b1_customer", "o_custkey")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 0).as("total"))
        .orderBy("c_mktsegment")
    }),
    "u1_union_by_name" -> q((s, d) =>
      Relational.unionByNameEntities(Tables.customer(s, d), Tables.supplier(s, d))),
    "j1_join_segment" -> q((s, d) =>
      Joins.ordersBySegment(Tables.orders(s, d), Tables.customer(s, d))),
    "j2_snowflake_dims" -> q((s, d) =>
      Joins.customersByRegion(Tables.customer(s, d), Tables.nation(s, d), Tables.region(s, d))),
    "j3_semi_topk" -> q((s, d) => Joins.topCustomerOrders(Tables.orders(s, d))),
    "j5_salted_join" -> q((s, d) =>
      graft.operators.Skew.saltedJoin(
          Tables.orders(s, d).withColumnRenamed("o_custkey", "c_custkey"),
          Tables.customer(s, d).select("c_custkey", "c_mktsegment"), "c_custkey")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 0).as("total"))
        .orderBy("c_mktsegment")),
    // full-outer join with unmatched rows engineered on BOTH sides
    // (filtered key subsets), membership pinned via side-tagged id sums
    "j6_full_outer" -> q((s, d) => {
      val c = Tables.customer(s, d).filter(col("c_custkey") % 3 === 0)
        .select("c_custkey")
      val o = Tables.orders(s, d).filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_custkey")
      c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
        .select(
          when(col("c_custkey").isNotNull && col("o_orderkey").isNotNull, "matched")
            .when(col("o_orderkey").isNull, "customer_only")
            .otherwise("order_only").as("side"),
          coalesce(col("c_custkey"), col("o_custkey")).as("k"),
          col("o_orderkey"))
        .groupBy("side")
        .agg(count(lit(1)).as("cnt"), sum("k").as("key_sum"),
          sum(coalesce(col("o_orderkey"), lit(0L))).as("order_sum"))
        .orderBy("side")
    }),
    "a25_salted_agg" -> q((s, d) =>
      graft.operators.Skew.saltedCountSum(Tables.lineitem(s, d), "l_returnflag", "l_quantity")
        .select(col("l_returnflag"), col("cnt"), round(col("total"), 0).as("total"))
        .orderBy("l_returnflag")),
    "j4_range_join" -> q((s, d) => {
      val ev = Tables.events(s, d)
      val intervals = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("ts").as("start_ts"),
          (col("ts") + expr("INTERVAL 1 HOUR")).as("end_ts"))
      val clicks = ev.filter(col("event_type") === "click").select("event_id", "ts")
      graft.operators.RangeJoin
        .pointInInterval(clicks, intervals, "ts", "start_ts", "end_ts")
        .groupBy("err_id").agg(count(lit(1)).as("n_clicks"))
        .orderBy("err_id")
    }),
    // --- windows (SURVEY §2.5/§2.6 upgrades) ---
    "w1_rank_per_group" -> q((s, d) => Windows.topOrdersPerCustomer(Tables.orders(s, d))),
    "w2_lag_deltas" -> q((s, d) => Windows.userValueDeltas(Tables.events(s, d))),
    "w3_rolling_avg" -> q((s, d) => Windows.rollingDailyAvg(Tables.orders(s, d))),
    "a15_daily_zscore" -> q((s, d) => Windows.dailyZscore(Tables.events(s, d))),
    "st2_sessionize" -> q((s, d) => Windows.sessionize(Tables.events(s, d))),
    // hot-key-safe sessionization: per-(key, time-chunk) parallel local
    // sessions, then a per-key merge over session SUMMARIES only — the
    // shipped mitigation for the one per-key-ordered serialization
    // (SCALE.md skew probe); pinned to a ts-ordered DuckDB oracle
    "w11_sessionize_chunked" -> q((s, d) =>
      Windows.sessionizeChunked(Tables.events(s, d), 30, chunkHours = 24)),
    "w5_funnel" -> q((s, d) => Windows.conversionFunnel(Tables.events(s, d))),
    "w4_asof_join" -> q((s, d) => {
      val ev = Tables.events(s, d)
      val errors = ev.filter(col("event_type") === "error")
      val clicks = ev.filter(col("event_type") === "click")
      graft.operators.AsOfJoin
        .asOf(errors, clicks, key = "user_id", tsCol = "ts",
          tiebreak = "event_id", payloadCols = Seq("value"))
        .select(col("event_id"), col("user_id"),
          round(col("asof_value"), 4).as("last_click_value"))
        .orderBy("event_id")
    }),
    // hot-key-safe as-of (chunk-and-carry; the serialized portion is
    // O(chunks) per key) — must equal the plain asOf, so it shares w4's
    // oracle semantics over ~30 daily chunks of the fixture
    "w12_asof_chunked" -> q((s, d) => {
      val ev = Tables.events(s, d)
      val errors = ev.filter(col("event_type") === "error")
      val clicks = ev.filter(col("event_type") === "click")
      graft.operators.AsOfJoin
        .asOfChunked(errors, clicks, key = "user_id", tsCol = "ts",
          tiebreak = "event_id", payloadCols = Seq("value"), chunkHours = 24)
        .select(col("event_id"), col("user_id"),
          round(col("asof_value"), 4).as("last_click_value"))
        .orderBy("event_id")
    }),
    "w6_asof_forward" -> q((s, d) => {
      val ev = Tables.events(s, d)
      val errors = ev.filter(col("event_type") === "error")
      val clicks = ev.filter(col("event_type") === "click")
      graft.operators.AsOfJoin
        .asOfForward(errors, clicks, key = "user_id", tsCol = "ts",
          tiebreak = "event_id", payloadCols = Seq("value"))
        .select(col("event_id"), col("user_id"),
          round(col("asofnext_value"), 4).as("next_click_value"))
        .orderBy("event_id")
    }),
    // hot-key-safe FORWARD as-of (w12's chunk-and-carry mirrored in
    // time) — must equal plain asOfForward, so it shares w6's oracle
    // semantics over ~30 daily chunks of the fixture
    "w13_asof_forward_chunked" -> q((s, d) => {
      val ev = Tables.events(s, d)
      val errors = ev.filter(col("event_type") === "error")
      val clicks = ev.filter(col("event_type") === "click")
      graft.operators.AsOfJoin
        .asOfForwardChunked(errors, clicks, key = "user_id", tsCol = "ts",
          tiebreak = "event_id", payloadCols = Seq("value"), chunkHours = 24)
        .select(col("event_id"), col("user_id"),
          round(col("asofnext_value"), 4).as("next_click_value"))
        .orderBy("event_id")
    }),
    // --- streaming semantics, batch twin (SURVEY §2.9) ---
    "st1_windowed_counts" -> q((s, d) =>
      graft.streaming.EventStreams.windowedCounts(Tables.events(s, d))
        .orderBy("window_start", "event_type")),
    // the real streaming runtime: file-source micro-batches → watermarked
    // dropDuplicatesWithinWatermark → memory sink. The watermark horizon
    // (1000h) exceeds the data span, so the result set equals global
    // exact dedup; the aggregation is survivor-agnostic (n_rows proves
    // the runtime actually deduped — without it every event would land)
    "st3_stream_dedup" -> q((s, d) =>
      graft.streaming.EventStreams.dedupThroughStream(s, Tables.events(s, d),
          Seq("user_id", "event_type"), "ts", "1000 hours",
          inputFiles = 2, statePartitions = Some(4))
        .groupBy("event_type")
        .agg(countDistinct("user_id").as("n_users"), count(lit(1)).as("n_rows"))
        .orderBy("event_type")),
    // the real runtime again, for AGGREGATION: file micro-batches →
    // windowed counts → Complete-mode memory sink. The final complete
    // output equals the batch aggregate regardless of file arrival
    // order, so the gate is fully pinned to the same oracle as st1
    "st4_stream_windowed" -> q((s, d) =>
      graft.streaming.EventStreams.throughStream(s, Tables.events(s, d),
          org.apache.spark.sql.streaming.OutputMode.Complete(),
          inputFiles = 2, statePartitions = Some(4))(
          df => graft.streaming.EventStreams.windowedCounts(df))
        .orderBy("window_start", "event_type")),
    // and for STREAM-STREAM JOIN: clicks-before-errors inner join with a
    // watermark wider than the 30-day data span, so no row is ever
    // evicted as late and the emitted pair set is exactly the batch
    // join's — pinned via exact id-sum aggregates over all pairs
    "st5_stream_join" -> q((s, d) =>
      graft.streaming.EventStreams.throughStream(s,
          // pre-filter to the two joined types before the stream source —
          // the source-side predicate pushdown a production topic/stream
          // would apply; 60% less micro-batch volume and join state
          Tables.events(s, d).filter(col("event_type").isin("error", "click")),
          org.apache.spark.sql.streaming.OutputMode.Append(),
          inputFiles = 2, statePartitions = Some(4))(
          df => graft.streaming.EventStreams.clicksBeforeErrors(df,
            watermark = "87600 hours"))
        .agg(count(lit(1)).as("n_pairs"), sum("err_id").as("err_id_sum"),
          sum("clk_id").as("clk_id_sum"),
          countDistinct("err_user").as("n_users"))),
    // and for STREAM-STATIC enrichment: each micro-batch broadcast-joins
    // the static customer snapshot (stateless — no watermark or join
    // state), Complete-mode profile by segment; the final output equals
    // the batch join+agg regardless of arrival order, so fully pinned
    "st6_stream_static_join" -> q((s, d) =>
      graft.streaming.EventStreams.throughStream(s, Tables.events(s, d),
          org.apache.spark.sql.streaming.OutputMode.Complete(),
          inputFiles = 2, statePartitions = Some(4))(
          df => graft.streaming.EventStreams.enrichedSegmentCounts(
            df, Tables.customer(s, d)))
        .orderBy("c_mktsegment")),
    // mapGroupsWithState through the real runtime (Update mode): the
    // final per-user cumulative stats are recovered from the Update-mode
    // sink via max(struct(n_events,…)) — n_events strictly increases per
    // user, so the result equals the batch aggregate regardless of how
    // the input batched; fully pinned
    "st8_stream_running_stats" -> q((s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .select("event_id", "ts", "user_id", "event_type", "value")
      graft.streaming.EventStreams.throughStream(s, ev,
          org.apache.spark.sql.streaming.OutputMode.Update(),
          inputFiles = 3, statePartitions = Some(4)) { df =>
          graft.streaming.EventStreams.runningUserStats(
            df.as[graft.streaming.EventStreams.Event]).toDF
        }
        .groupBy("user_id")
        .agg(max(struct(col("n_events"), col("max_value"),
          col("value_sum"))).as("_f"))
        .select(col("user_id"), col("_f.n_events").as("n_events"),
          round(col("_f.max_value"), 4).as("max_value"),
          round(col("_f.value_sum"), 4).as("value_sum"))
        .orderBy("user_id")
    }),
    // built-in session_window through the real runtime (Complete mode):
    // session extents are a pure function of the event-time multiset,
    // so the converged sessions equal the batch lag/gap sessionization
    // the oracle computes — starts, counts, and value sums all pinned
    "st9_stream_session_window" -> q((s, d) =>
      graft.streaming.EventStreams.throughStream(s,
          Tables.events(s, d)
            .select("event_id", "ts", "user_id", "event_type", "value"),
          org.apache.spark.sql.streaming.OutputMode.Complete(),
          inputFiles = 3, statePartitions = Some(4))(
          df => graft.streaming.EventStreams.sessionWindowCounts(df))
        .orderBy("user_id", "session_start")),
    // streaming UPSERT into a keyed, hash-bucketed parquet table: each
    // micro-batch merges latest-version-per-key into ONLY its touched
    // bucket partitions (pruned read + dynamic overwrite). Per-key max
    // is commutative across racy micro-batch orders and idempotent
    // under replay, so the drained table pins exactly to the oracle's
    // batch latest-per-key over the full event set
    "st10_stream_upsert" -> q((s, d) =>
      graft.streaming.EventStreams.upsertThroughStream(s,
          Tables.events(s, d)
            .select("event_id", "ts", "user_id", "event_type", "value"),
          keyCols = Seq("user_id"), versionCols = Seq("ts", "event_id"))
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type").as("last_type"),
          round(col("value"), 4).as("last_value"))
        .orderBy("user_id")),
    // skip-friendly layout PROVEN from parquet footers: write events
    // partitioned by type + sorted within files, then pin the footer
    // row counts and min/max statistics (zero data pages read) against
    // the oracle's full-scan aggregates — the write side of zone maps
    "io11_sorted_layout_stats" -> q((s, d) => withTempDir("graft_io11") { dir =>
      val ev = Tables.events(s, d).select(col("event_type"),
        expr("unix_millis(cast(ts as timestamp)) DIV 1000").as("ts_sec"))
      graft.sources.SortedLayout.writeSorted(ev, dir, "event_type", "ts_sec")
      graft.sources.SortedLayout.footerStats(s, dir, "event_type", "ts_sec")
    }),
    // streaming leaderboard through the REAL runtime: the bounded-state
    // TopK Aggregator as a streaming aggregation (window functions are
    // rejected on streams — this is the shape that works); final state
    // ≡ the batch row_number oracle regardless of micro-batch splits
    "st11_stream_topk" -> q((s, d) =>
      graft.streaming.EventStreams.topKThroughStream(s,
          Tables.events(s, d)
            .select("event_id", "ts", "user_id", "event_type", "value"),
          keyCol = "event_type", valCol = "value", idCol = "event_id",
          k = 3, inputFiles = 3, statePartitions = Some(4))
        .orderBy("event_type", "rank")),
    // the real runtime into a FILE sink: micro-batches land in a curated
    // partitioned tree via foreachBatch + the drift-guarded writer,
    // overwrite-by-batch-id (replay-idempotent). The tree's CONTENTS are
    // the full event set regardless of how files batched, so the
    // read-back aggregate is fully pinned to the raw table
    "st7_stream_curated_sink" -> q((s, d) => withTempDir("graft_st7") { dir =>
      val ev = Tables.events(s, d)
      ev.coalesce(2).write.parquet(s"$dir/in")
      val schema = s.read.parquet(s"$dir/in").schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/in")
      val q2 = graft.streaming.EventStreams.writeCuratedStream(
        stream, s"$dir/curated", Seq("event_type"), s"$dir/ckpt")
      try q2.processAllAvailable() finally q2.stop()
      s.read.parquet(s"$dir/curated")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), sum("event_id").as("id_sum"),
          count(when(col("value").isNull, 1)).as("n_null_value"))
        .orderBy("event_type")
    }),
    // validate-and-route: good rows to the curated path, violators to a
    // quarantine path WITH failure labels — membership of both sinks
    // pinned per status (a row can fail null-ness or range, never both)
    "io9_quarantine_route" -> q((s, d) => withTempDir("graft_io9") { dir =>
      import graft.operators.Quality
      Quality.quarantine(Tables.events(s, d),
        Seq(Quality.NotNull("value"), Quality.InRange("value", 0.0, 140.0)),
        s"$dir/good", s"$dir/bad")
      val good = s.read.parquet(s"$dir/good")
        .select(col("event_id"), lit("good").as("status"))
      val bad = s.read.parquet(s"$dir/bad")
        .select(col("event_id"), col("_failed_rules").as("status"))
      good.unionByName(bad).groupBy("status")
        .agg(count(lit(1)).as("n_rows"), sum("event_id").as("id_sum"))
        .orderBy("status")
    }),
    // data-quality assertion report (the validate-before-ingest pass —
    // the reference's interleaved ad-hoc count() checks as ONE
    // aggregation): every rule type exercised, all counts pinned
    "dq1_quality_report" -> q((s, d) => {
      import graft.operators.Quality
      Quality.check(Tables.lineitem(s, d), Seq(
        Quality.NotNull("l_quantity"),
        Quality.InRange("l_quantity", 1.0, 50.0),
        Quality.InSet("l_returnflag", Seq("A", "N", "R")),
        Quality.Unique(Seq("l_orderkey", "l_linenumber")),
        Quality.Satisfies("price_nonneg", col("l_extendedprice") >= 0)))
    }),
    // the uniqueness rule's 100 TB twin under contract: HLL distinctness
    // (constant sketch state instead of shuffling every distinct tuple)
    // must PASS on the genuinely-unique o_orderkey within 3·rsd sketch
    // noise and must still FAIL on o_custkey (duplicated ~10×, far
    // beyond any sketch slack) — exact rule alongside as the control;
    // n_violations is sketch-valued so the gate pins the verdicts
    "dq2_unique_approx" -> q((s, d) => {
      import graft.operators.Quality
      Quality.check(Tables.orders(s, d), Seq(
        Quality.Unique(Seq("o_orderkey")),
        Quality.UniqueApprox(Seq("o_orderkey")),
        Quality.UniqueApprox(Seq("o_custkey"))))
        .select(col("rule"), col("n_rows"), col("pass"))
    }),
    // --- ML-adjacent (SURVEY A22/A23) ---
    // clustering quality report: feature stats pinned exactly; the SSE
    // and non-collapse checks run in Spark, the oracle demands they held
    "ml1_kmeans" -> q((s, d) => Clusters.qualityReport(Tables.events(s, d))),
    // per-cluster profile with labels canonicalized by centroid norm:
    // n_total pinned exactly; nonempty / hull / distinct-centroids /
    // better-than-global-mean invariants oracle-demanded (the raw
    // label-permuted profile remains the library op, Clusters.eventClusters)
    "ml4_kmeans_profile" -> q((s, d) =>
      Clusters.clusterInvariantProfile(Tables.events(s, d))),
    "ml2_iqr_anomalies" -> q((s, d) => Outliers.iqrAnomalies(Tables.events(s, d))),
    // MAD robust outlier report: exact per-group median + MAD broadcast
    // back, Iglewicz–Hoaglin 3.5 cut — counts and robust stats pinned
    "a31_mad_outliers" -> q((s, d) => Outliers.madOutliers(Tables.events(s, d))),
    // --- distribution drift (operators/Drift.scala) ---
    // exact two-sample KS between click and view value samples: one
    // data-sized count keyed by distinct value, CDFs via the two-pass
    // bucket prefix sum — supremum attained at a sample point, so exact
    "dr1_ks_drift" -> q((s, d) =>
      graft.operators.Drift.ksStatistic(Tables.events(s, d),
        "value", "event_type", "click", "view")),
    // PSI of every source's n_chars histogram vs the src0 baseline over
    // 16 fixed-width global bins, Laplace-smoothed identically on both
    // sides — the scorecard drift monitor
    "dr2_psi_drift" -> q((s, d) =>
      graft.operators.Drift.psi(Tables.documents(s, d),
        "n_chars", "source", "src0", bins = 16)),
    // Pearson chi-square of source × lang independence with the full
    // r×c grid (zero-observed cells included via the marginal crossJoin)
    "dr3_chisq_independence" -> q((s, d) =>
      graft.operators.Drift.chiSquareIndependence(Tables.documents(s, d),
        "source", "lang")),
    // mutual information + entropies + min-normalized MI between the
    // source and lang columns — the "how redundant are these two
    // dimensions" feature-selection readout; no grid completion (empty
    // cells contribute 0 ln 0 = 0)
    "dr4_mutual_information" -> q((s, d) =>
      graft.operators.Drift.mutualInformation(Tables.documents(s, d),
        "source", "lang")),
    // skyline query: distinct (price, discount) points nobody Pareto-
    // dominates, via the descending sweep + bucketed running max — the
    // oracle replays the same sweep-line identity in SQL window form
    "sk1_pareto_frontier" -> q((s, d) =>
      graft.operators.Skyline.paretoFrontier2D(Tables.lineitem(s, d),
        "l_extendedprice", "l_discount")),
    // isolation-forest scoring invariants: the scored-row count is
    // pinned exactly; the oracle demands scores stay inside (0,1), the
    // contamination-thresholded anomaly rate lands within approxQuantile
    // tolerance of 2%, and flagged rows sit farther from the global
    // value mean than unflagged ones (the distributional signal ml5's
    // IQR-overlap twin checks from the other side)
    "ml3_isolation_forest" -> q((s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"), col("value"),
        hour(col("ts")).cast("double").as("hr"))
      val scored = graft.ml.IsolationForest
        .fit(ev, Seq("value", "hr"), numTrees = 50)
        .transform(ev)
        .filter(col("anomaly_score").isNotNull)
        .persist()
      try {
        val n = scored.count()
        val threshold = scored.stat
          .approxQuantile("anomaly_score", Array(0.98), 0.001).head
        val nFlag = scored.filter(col("anomaly_score") >= threshold).count()
        // approxQuantile's 0.001 relative error bounds the rate drift;
        // max(10, 1%) keeps the demand satisfiable at tiny SFs
        val tol = math.max(10.0, 0.01 * n)
        // null-guard every aggregate read: an empty scored set or a
        // degenerate all-equal score distribution (zero rows under the
        // threshold) must fail as a clean boolean mismatch, never as a
        // driver NPE (the ob1 lesson)
        val gmRow = scored.agg(avg("value")).head()
        val gm = if (gmRow.isNullAt(0)) 0.0 else gmRow.getDouble(0)
        val r = scored.agg(
          min("anomaly_score").as("mn"), max("anomaly_score").as("mx"),
          avg(when(col("anomaly_score") >= threshold,
            abs(col("value") - gm))).as("d_flag"),
          avg(when(col("anomaly_score") < threshold,
            abs(col("value") - gm))).as("d_rest")).head()
        def d(i: Int): Option[Double] =
          if (r.isNullAt(i)) None else Some(r.getDouble(i))
        import s.implicits._
        Seq((n,
          d(0).exists(_ > 0.0) && d(1).exists(_ < 1.0),
          math.abs(nFlag - 0.02 * n) <= tol,
          (for (f <- d(2); rest <- d(3)) yield f > rest).getOrElse(false)))
          .toDF("n_scored", "scores_in_unit", "anomaly_rate_in_tol",
            "flagged_more_extreme")
      } finally { scored.unpersist(); () }
    }),
    // isolation-forest invariant gate: the top-50 scored events must
    // substantially overlap the exact global IQR-outlier set (which the
    // oracle can compute), and every score must lie in (0, 1)
    "ml5_iforest_invariants" -> q((s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"), col("value"),
        hour(col("ts")).cast("double").as("hr"))
      val scored = graft.ml.IsolationForest.fit(ev, Seq("value", "hr"), numTrees = 50)
        .transform(ev)
      val top = scored.orderBy(desc("anomaly_score"), asc("event_id")).limit(50)
      val b = ev.agg(expr("percentile(value, 0.25)").as("q1"),
        expr("percentile(value, 0.75)").as("q3"))
        .select((col("q1") - (col("q3") - col("q1")) * 1.5).as("lo"),
          (col("q3") + (col("q3") - col("q1")) * 1.5).as("hi"))
      // demanded overlap adapts to how many exact-IQR outliers exist:
      // 60% of min(50, n_outliers), capped at the historical 30 — same
      // strength at sf0.01+ (463 outliers → demand 30), and achievable
      // at tiny SFs where the whole outlier set is smaller than the
      // top-k (sf0.001 has only 31)
      val nOut = ev.crossJoin(broadcast(b))
        .filter(col("value") < col("lo") || col("value") > col("hi")).count()
      val need = math.min(30L, math.min(50L, nOut) * 6 / 10)
      top.crossJoin(broadcast(b))
        .agg(count(lit(1)).as("n_top"),
          (count(when(col("value") < col("lo") || col("value") > col("hi"), 1))
            >= need).as("iqr_overlap_ge_30"),
          (min("anomaly_score") > 0.0 && max("anomaly_score") < 1.0)
            .as("scores_in_unit_interval"))
    }),
    // --- text analysis (training-data ops) ---
    // unigram-LM quality scoring (the CCNet-style statistical filter):
    // per-language distribution of per-doc mean token log-prob under the
    // corpus' own top-1000 unigram model, fully pinned (both engines
    // walk identical exact count ratios through ln)
    "lm1_unigram_quality" -> q((s, d) =>
      graft.text.UnigramLm.scoreDocuments(Tables.documents(s, d), 1000)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          round(avg("avg_logp"), 4).as("mean_logp"),
          round(min("avg_logp"), 4).as("min_logp"),
          round(max("avg_logp"), 4).as("max_logp"))
        .orderBy("lang")),

    // interpolated Kneser–Ney (Chen & Goodman): the KenLM-class
    // smoother — continuation-probability backoff, absolute discount
    // 0.75, same one-explode scale shape as lm2; distribution pinned
    "lm4_kneser_ney" -> q((s, d) =>
      graft.text.BigramLm.scoreByLangKN(Tables.documents(s, d))),
    // CCNet's selection step over the lm1 scores: per-language
    // head/middle/tail tertile census — what a pipeline keeps or drops
    "lm3_ccnet_buckets" -> q((s, d) =>
      graft.text.UnigramLm.ccnetBuckets(Tables.documents(s, d), 1000)),

    "t5_langid_confusion" -> q((s, d) => TextAnalysis.langIdConfusion(Tables.documents(s, d))),
    "t6_quality_by_lang" -> q((s, d) => TextAnalysis.qualityByLang(Tables.documents(s, d))),
    "t7_token_stats" -> q((s, d) =>
      TextAnalysis.docMetrics(Tables.documents(s, d))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("total_tokens"),
          round(avg("n_tokens"), 4).as("avg_tokens"))
        .orderBy("lang")),
    "t9_bpeish_tokens" -> q((s, d) =>
      graft.operators.Partitioning.spread(Tables.documents(s, d))
        // project both token counts once; the regex runs one time per doc
        .select(col("lang"),
          TextAnalysis.bpeishTokenCount(col("text")).as("n_bpe"),
          TextAnalysis.tokenCount(col("text")).as("n_ws"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_bpe").as("total_bpe_tokens"),
          round(avg("n_bpe"), 4).as("avg_bpe_tokens"),
          round(avg(col("n_bpe") - col("n_ws")), 4).as("avg_subword_surplus"))
        .orderBy("lang")),
    "t10_vocab_by_lang" -> q((s, d) => TextAnalysis.vocabByLang(Tables.documents(s, d))),
    // HLL vocabulary twin with the same 3·rsd error-bound contract as d10
    "t12_vocab_approx" -> q((s, d) => {
      val docs = Tables.documents(s, d)
      val exact = TextAnalysis.vocabByLang(docs)
        .select(col("lang"), col("n_tokens"), col("vocab_exact"))
      val approx = TextAnalysis.vocabByLangApprox(docs, rsd = 0.01)
      exact.join(approx, "lang")
        .select(col("lang"), col("n_tokens"), col("vocab_exact"),
          (abs(col("vocab_approx") - col("vocab_exact"))
            <= col("vocab_exact") * 0.03).as("approx_within_3rsd"))
        .orderBy("lang")
    }),
    "t11_top_bigrams" -> q((s, d) => TextAnalysis.topBigrams(Tables.documents(s, d))),
    // BM25 lexical retrieval: top-25 docs for a fixed 4-term query,
    // Lucene idf, scores rounded to 6 with doc_id tiebreak — the oracle
    // recomputes the identical formula from the same tokenization
    "r1_bm25_topk" -> q((s, d) =>
      graft.text.Bm25.topK(Tables.documents(s, d),
        Seq("hash", "join", "window", "spark"), k = 25)),
    "t8_fingerprints" -> q((s, d) =>
      TextAnalysis.withFingerprint(Tables.documents(s, d))
        .select("doc_id", "fp").orderBy("doc_id").limit(100)),
    // Gopher repetition rules: duplicate-window fraction + top-bigram
    // dominance per doc, rolled up per language with flag counts
    "t13_repetition" -> q((s, d) =>
      TextAnalysis.repetitionByLang(Tables.documents(s, d))),
    // C4-style PII scrub over deterministically injected emails/IPs: the
    // oracle re-runs the same injection + RE2-compatible redaction and
    // demands zero residual raw-PII matches after the pass
    // TF-IDF keyword extraction: ranks by the unrounded score (term
    // tiebreak), reports rounded — both engines compute the identical
    // double product tf·ln((N+1)/(df+1))
    "t15_tfidf_top_terms" -> q((s, d) =>
      TextAnalysis.tfidfTopTerms(Tables.documents(s, d))
        .filter(col("doc_id") < 50)),
    "t14_pii_scrub" -> q((s, d) => {
      val docs = Tables.documents(s, d)
      val withPii = docs.withColumn("text", concat(col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" contact u"), col("doc_id").cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          concat(lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
            lit(".1"))).otherwise(lit(""))))
      graft.text.Scrub.piiStats(graft.text.Scrub.scrubPii(withPii))
    }),
    // phrase-blocklist audit: per-source exposure to a curated phrase
    // list (license/spam/NSFW-marker scrub shape) — one row-local
    // array-filter pass, no join
    "t28_blocklist_audit" -> q((s, d) =>
      graft.text.Scrub.blocklistAudit(Tables.documents(s, d),
        Seq("slow join", "table scan", "batch batch", "window window",
          "never matches anything"))),
    // HTML → text extraction over a deterministically synthesized
    // crawl page per document (script with raw < and &&, style,
    // comment, h1/p/li blocks, entities incl. a double-escape): block
    // count, char mass, the FULL extracted text via fnv, and the
    // first/last blocks are all oracle-pinned against a DuckDB replay
    // of the identical regex chain — downstream text operators consume
    // `text` unchanged (HtmlExtractSpec composes them)
    "t29_html_extract" -> q((s, d) => {
      val txt = array_join(col("blocks"), "\n")
      Tables.documents(s, d)
        .select(col("doc_id"),
          graft.text.HtmlExtract.htmlToBlocks(synthesizedCrawlPage).as("blocks"))
        .select(col("doc_id"),
          size(col("blocks")).cast("long").as("n_blocks"),
          length(txt).cast("long").as("n_chars"),
          graft.functions.HashExpressions.fnv1a32(txt).as("text_fnv"),
          element_at(col("blocks"), 1).as("first_block"),
          element_at(col("blocks"), -1).as("last_block"))
        .orderBy("doc_id").limit(1000)
    }),
    // the full crawl-ingest composition, end to end through REAL
    // operators: the same synthesized pages → HtmlExtract → CCNet
    // boilerplate-line removal (d27's operator over the BLOCK surface)
    // — corpus-repeated chrome (per-source title, lang line, entity
    // footer) drops, each doc keeps exactly its unique heading + body;
    // every rebuilt text is pinned
    "t30_crawl_pipeline" -> q((s, d) =>
      Dedup.removeBoilerplateLines(
          Tables.documents(s, d).select(col("doc_id"),
            graft.text.HtmlExtract.htmlToText(synthesizedCrawlPage).as("text")),
          minDocs = 3)
        .orderBy("doc_id")),
    // C4 line filter over a deterministically line-structured corpus:
    // ' a ' → '.\n' gives every doc real line boundaries (the fixture
    // text has none), and two injected markers exercise the DOC-level
    // drop rules ("lorem ipsum", '{') independently of the line rules;
    // keep counts, character mass, and an fnv sum over the cleaned
    // text of survivors are all oracle-pinned
    "t16_c4_line_filter" -> q((s, d) => {
      val lined = Tables.documents(s, d).withColumn("text", concat(
        regexp_replace(col("text"), lit(" a "), lit(".\n")),
        when(col("doc_id") % 97 === 0, lit("\nlorem ipsum dolor."))
          .otherwise(lit("")),
        when(col("doc_id") % 89 === 0, lit("\nvar x = { js }."))
          .otherwise(lit(""))))
      TextAnalysis.c4FilterStats(lined)
    }),
    // Gopher quality-rule battery (Rae 2021 A1): the corpus is re-lined
    // like t16, every 13th doc becomes all-bullet lines, every 17th
    // all-ellipsis lines, every 19th gets a symbol flood — each rule's
    // per-language failure count and the overall pass census are pinned
    "t26_gopher_rules" -> q((s, d) => {
      val seasoned = Tables.documents(s, d).withColumn("text", concat(
        when(col("doc_id") % 13 === 0,
          concat(lit("- "), regexp_replace(col("text"), lit(" a "), lit("\n- "))))
          .when(col("doc_id") % 17 === 0,
            concat(regexp_replace(col("text"), lit(" a "), lit("...\n")), lit("...")))
          .otherwise(regexp_replace(col("text"), lit(" a "), lit(".\n"))),
        when(col("doc_id") % 19 === 0, lit(" # # # # # # # #"))
          .otherwise(lit(""))))
      TextAnalysis.gopherRuleCensus(seasoned, minWords = 20,
        requiredWords = Seq("the", "table", "row", "value"))
    }),
    // character-level Shannon entropy (gibberish / compression proxy):
    // per-language distribution ends pinned; every 11th doc gets a
    // low-entropy single-char flood appended so the min side separates
    "t25_char_entropy" -> q((s, d) =>
      TextAnalysis.charEntropyByLang(
        Tables.documents(s, d).withColumn("text",
          when(col("doc_id") % 11 === 0,
            concat(col("text"), lit(" "), repeat(lit("z"), 200)))
            .otherwise(col("text"))))),
    // NFC normalization (native expression): decomposed accents are
    // injected into every fifth doc (the corpus is pure ASCII), and the
    // composed output is pinned by length delta + fnv sum — both engines
    // implement Unicode NFC, so the pin is exact
    "t17_nfc_normalize" -> q((s, d) => {
      val seasoned = Tables.documents(s, d).withColumn("text", concat(
        col("text"),
        when(col("doc_id") % 5 === 0, lit(" cafe\u0301 nai\u0308ve")) // decomposed: NFC must compose
          .otherwise(lit(""))))
      seasoned
        .select(col("source"),
          length(col("text")).as("raw_len"),
          graft.functions.TextNormalize.nfcNormalize(col("text")).as("norm"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("raw_len").as("chars_raw"),
          sum(length(col("norm"))).as("chars_nfc"),
          sum(graft.functions.HashExpressions.fnv1a32(col("norm")))
            .as("norm_fnv_sum"))
        .orderBy("source")
    }),
    // --- dedup (training-data ops) ---
    "d1_dup_stats" -> q((s, d) => Dedup.dupStatsByLang(Tables.documents(s, d))),
    "d2_exact_dedup" -> q((s, d) => Dedup.exactDedup(Tables.documents(s, d))),
    // normalization-insensitive dedup, keep-longest election: every 10th
    // doc gets an UPPERCASED double-spaced twin injected — the twin is
    // strictly longer, so the election must keep IT (and the grouped
    // id/length sums prove which copy won each group)
    "d15_norm_dedup" -> q((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val variants = docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"),
          upper(regexp_replace(col("text"), " ", "  ")).as("text"))
      Dedup.dedupNormalizedKeepLongest(docs.unionByName(variants))
        .groupBy("n_variants")
        .agg(count(lit(1)).as("n_groups"), sum("doc_id").as("id_sum"),
          sum("text_len").as("len_sum"))
        .orderBy("n_variants")
    }),
    // Morton/z-order layout key: literal bit interleaving, pinned per
    // z-range bucket (the file-level min/max a 2-D predicate prunes on)
    "z1_zorder_bucket" -> q((s, d) =>
      Tables.lineitem(s, d)
        .select(graft.operators.ZOrder.zorderKey2(
          pmod(col("l_partkey"), lit(256L)), pmod(col("l_suppkey"), lit(256L)),
          bits = 8).as("zkey"),
          col("l_orderkey"))
        .groupBy(floor(col("zkey") / 256).as("z_bucket"))
        .agg(count(lit(1)).as("n_rows"), min("zkey").as("z_min"),
          max("zkey").as("z_max"), sum("l_orderkey").as("key_sum"))
        .orderBy("z_bucket")),
    // reproducible mode: FNV-based signatures + raw band-slice keys, so
    // the oracle rebuilds the ENTIRE pipeline (shingle hash → permuted
    // minhash → banding → star guard → agreement score) bit-for-bit
    "d3_minhash_pairs" -> q((s, d) =>
      Dedup.minhashNearDups(Tables.documents(s, d), reproducible = true)
        .filter(col("est_jaccard") >= 0.5)
        .orderBy(desc("est_jaccard"), asc("doc_a"), asc("doc_b")).limit(1000)),
    // ingest-time cross-corpus screen: every-3rd doc plays the incoming
    // batch, the rest the accumulated corpus; corpus-side bucket guard
    "d29_cross_corpus_neardups" -> q((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.crossCorpusNearDups(
          docs.filter(pmod(col("doc_id"), lit(3L)) === 0),
          docs.filter(pmod(col("doc_id"), lit(3L)) =!= 0),
          reproducible = true)
        .filter(col("est_jaccard") >= 0.5)
        .orderBy("doc_in", "doc_corpus").limit(1000)
    }),
    // streaming decontamination: incoming shingles probe the broadcast
    // eval set through the real runtime; pinned to d11's exact oracle
    "st13_stream_decontaminate" -> q((s, d) => {
      val docs = Tables.documents(s, d)
      graft.streaming.CorpusStreams.decontaminateThroughStream(s,
        docs, docs.filter(col("doc_id") % 97 === 0), k = 8)
    }),
    // the SAME screen through the real streaming runtime: stateless
    // stream-static band join, append mode — pinned to the identical
    // oracle as d29, so arrival-order independence is demanded, not
    // assumed
    "st12_stream_neardup_screen" -> q((s, d) => {
      val docs = Tables.documents(s, d)
      graft.streaming.CorpusStreams.nearDupScreenThroughStream(s,
          docs.filter(pmod(col("doc_id"), lit(3L)) === 0),
          docs.filter(pmod(col("doc_id"), lit(3L)) =!= 0),
          reproducible = true, tau = 0.5)
        .orderBy("doc_in", "doc_corpus").limit(1000)
    }),
    // the GROWING-corpus streaming screen: static index catches
    // incoming×corpus, per-bucket flatMapGroupsWithState catches
    // incoming×incoming (across and within micro-batches) — pinned to
    // one batch oracle over the union, so the emitted pair SET must be
    // arrival-order independent
    "st14_stream_growing_screen" -> q((s, d) => {
      val docs = Tables.documents(s, d)
      graft.streaming.CorpusStreams.growingNearDupScreen(s,
          docs.filter(pmod(col("doc_id"), lit(3L)) === 0),
          docs.filter(pmod(col("doc_id"), lit(3L)) =!= 0),
          reproducible = true, tau = 0.5)
        .orderBy("doc_a", "doc_b").limit(1000)
    }),
    // the SAME growing screen driven from a PERSISTED index — the full
    // production ingest loop in one gate: build the index on a third
    // of the corpus, save, reload, COMPACT the next third in, save,
    // reload, then run the STREAMING screen against the reloaded
    // artifact (corpus side never re-signed); pinned to st14's exact
    // oracle, so index persistence + compaction + the stream screen
    // must compose bit-faithfully
    "st16_stream_screen_from_index" -> q((s, d) =>
      withTempDir("graft_st16") { dir =>
        val docs = Tables.documents(s, d)
        val idx0 = Dedup.buildBandIndex(
          docs.filter(pmod(col("doc_id"), lit(3L)) === 1), reproducible = true)
        Dedup.saveBandIndex(idx0, s"$dir/idx0")
        Dedup.saveBandIndex(Dedup.compactBandIndex(
          Dedup.loadBandIndex(s, s"$dir/idx0"),
          docs.filter(pmod(col("doc_id"), lit(3L)) === 2)), s"$dir/idx1")
        graft.streaming.CorpusStreams.growingNearDupScreenWithIndex(s,
            docs.filter(pmod(col("doc_id"), lit(3L)) === 0),
            Dedup.loadBandIndex(s, s"$dir/idx1"), tau = 0.5)
          .orderBy("doc_a", "doc_b").limit(1000)
      }),
    // the TIME-BOUNDED growing screen: incoming docs carry event time
    // (ts = epoch + doc_id seconds, so Δts ≡ Δdoc_id), an
    // incoming×incoming pair emits only within the 120 s horizon, and
    // bucket state expires past the watermark — pinned to a batch
    // oracle restricted to the same horizon, so both the pairs the
    // horizon KEEPS and the ones it EXPIRES are part of the contract
    "st15_stream_windowed_screen" -> q((s, d) => {
      val docs = Tables.documents(s, d)
      graft.streaming.CorpusStreams.growingNearDupScreenWatermarked(s,
          docs.filter(pmod(col("doc_id"), lit(3L)) === 0)
            .withColumn("ts",
              timestamp_seconds(lit(1704067200L) + col("doc_id"))),
          docs.filter(pmod(col("doc_id"), lit(3L)) =!= 0),
          horizonSeconds = 120, watermarkDelay = "5 minutes",
          reproducible = true, tau = 0.5)
        .orderBy("doc_a", "doc_b").limit(1000)
    }),
    // the time-bounded screen driven from a PERSISTED, APPENDED index
    // — both production remedies composed: bounded state (st15's
    // horizon + watermark eviction) AND a never-re-signed corpus side
    // (st16's reloaded artifact, here grown via appendBandIndex).
    // Pinned to st15's exact horizon-restricted oracle
    "st17_stream_windowed_screen_from_index" -> q((s, d) =>
      withTempDir("graft_st17") { dir =>
        val docs = Tables.documents(s, d)
        Dedup.saveBandIndex(Dedup.buildBandIndex(
          docs.filter(pmod(col("doc_id"), lit(3L)) === 1),
          reproducible = true), s"$dir/idx")
        Dedup.appendBandIndex(s, s"$dir/idx",
          docs.filter(pmod(col("doc_id"), lit(3L)) === 2))
        graft.streaming.CorpusStreams.growingNearDupScreenWatermarkedWithIndex(
            s,
            docs.filter(pmod(col("doc_id"), lit(3L)) === 0)
              .withColumn("ts",
                timestamp_seconds(lit(1704067200L) + col("doc_id"))),
            Dedup.loadBandIndex(s, s"$dir/idx"),
            horizonSeconds = 120, watermarkDelay = "5 minutes", tau = 0.5)
          .orderBy("doc_a", "doc_b").limit(1000)
      }),
    // near-dup pairs cross-validated by a SECOND similarity family:
    // character-level edit distance over 120-char prefixes. BOTH
    // dimensions are bounded BEFORE the O(len²) DP runs: 120-char
    // prefixes cap the per-pair cost, and a deterministic id-ordered
    // top-1000 caps the pair count (TakeOrderedAndProject on 16-byte
    // rows) — at 10× corpus the near-dup pair set is 250k pairs and an
    // uncapped audit measured 38 s doing nothing but Levenshtein.
    // Pinned exactly — both engines implement unit-cost Levenshtein
    "d13_neardup_editdist" -> q((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minhashNearDups(docs, reproducible = true)
        .filter(col("est_jaccard") >= 0.5).select("doc_a", "doc_b")
        .orderBy("doc_a", "doc_b").limit(1000)
      val prefix = docs.select(col("doc_id"),
        substring(col("text"), 1, 120).as("pfx"))
      pairs
        .join(prefix.select(col("doc_id").as("doc_a"), col("pfx").as("pfx_a")), "doc_a")
        .join(prefix.select(col("doc_id").as("doc_b"), col("pfx").as("pfx_b")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          levenshtein(col("pfx_a"), col("pfx_b")).cast("long").as("lev"))
        .orderBy("doc_a", "doc_b")
    }),
    // SemDeDup over the planted-clone corpus: the within-cluster pair
    // scan must remove EXACTLY the 25 planted clones (kept twin = the
    // original, cosine ≈ 1; organic max ≈ 0.51 stays), pinned to an
    // exact ALL-pairs oracle — so a clone split from its original by
    // the cluster assignment, a threshold slip, or a wrong keeper
    // election all fail loudly; margin_ok rejects drifted fixtures
    "d14_semantic_dedup" -> q((s, d) =>
      graft.similarity.SemDedup.removals(
          plantClones(Tables.embeddings(s, d), 25), tau = 0.95)
        .select(col("removed_id"), col("kept_id"),
          round(col("sim"), 6).as("sim"),
          (col("sim") >= 0.9999).as("margin_ok"))
        .orderBy("removed_id")),
    // the 2-nearest-centroid boundary pass over the same planted-clone
    // corpus: pinned to the IDENTICAL exact all-pairs oracle as d14 —
    // multi-probe may only ADD recall, and on this fixture (every true
    // pair already recovered) must reproduce the exact result precisely
    "d28_semdedup_multiprobe" -> q((s, d) =>
      graft.similarity.SemDedup.removalsMultiProbe(
          plantClones(Tables.embeddings(s, d), 25), tau = 0.95, nprobe = 2)
        .select(col("removed_id"), col("kept_id"),
          round(col("sim"), 6).as("sim"),
          (col("sim") >= 0.9999).as("margin_ok"))
        .orderBy("removed_id")),
    "d4_simhash_pairs" -> q((s, d) =>
      Dedup.simhashNearDups(Tables.documents(s, d), maxHamming = 8,
        reproducible = true).limit(1000)),
    // xxhash64-signature scale path, pinned via invariants: its pair set
    // must cover every pair the reproducible FNV pipeline finds (the
    // oracle re-derives that count independently), and every pair it
    // emits must be a TRUE near-dup by exact shingle Jaccard (≥0.5 —
    // measured 0.9 on the fixture; MinHash est≥0.5 over 64 hashes puts
    // a J<0.2 false positive at Chernoff-negligible odds, so the bound
    // holds with wide margin under any hash family)
    "d9_minhash_xxh" -> q((s, d) => {
      val docs = Tables.documents(s, d)
      // both pair frames feed two consumers (count/anti-join/verify) —
      // persist the tiny pair sets so each LSH pipeline runs ONCE, not
      // per consumer (measured 6.1 s → ~3.5 s at sf0.1 without this)
      val xxh = Dedup.minhashNearDups(docs).filter(col("est_jaccard") >= 0.5)
        .select("doc_a", "doc_b").persist()
      val fnv = Dedup.minhashNearDups(docs, reproducible = true)
        .filter(col("est_jaccard") >= 0.5).select("doc_a", "doc_b").persist()
      // consumed by BOTH sides of the trueJ join — persist so the scan +
      // shingle pass runs once, not twice
      val sh = docs.select(col("doc_id"),
        graft.functions.HashExpressions.shingleHashes(col("text"), 3).as("sh"))
        .withColumn("n", size(col("sh"))).persist()
      val inter = graft.functions.HashExpressions
        .intersectCountSorted(col("sh_a"), col("sh_b"))
      val trueJ = xxh
        .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"),
          col("n").as("n_a")), "doc_a")
        .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"),
          col("n").as("n_b")), "doc_b")
        .select((inter.cast("double") / (col("n_a") + col("n_b") - inter))
          .as("true_j"))
      // eager localCheckpoint materializes the single invariant row NOW,
      // so both cached pair frames can be released immediately instead of
      // occupying the block manager for the life of the session
      val out = fnv.agg(count(lit(1)).as("n_fnv_pairs"))
        .crossJoin(fnv.join(xxh, Seq("doc_a", "doc_b"), "left_anti")
          .agg((count(lit(1)) === 0).as("xxh_covers_all_fnv_pairs")))
        .crossJoin(trueJ.agg(
          coalesce(min("true_j") >= 0.5, lit(true))
            .as("xxh_pairs_are_true_neardups")))
        .localCheckpoint(eager = true)
      xxh.unpersist()
      fnv.unpersist()
      sh.unpersist()
      out
    }),
    "d5_ngram_jaccard_topk" -> q((s, d) => Dedup.topJaccardPairs(Tables.documents(s, d))),
    // sorted-neighborhood blocking (merge/purge): per-lang sort on the
    // n_chars proxy, compare each doc with its next 3 neighbors only —
    // rows·window candidate work; every surviving pair pinned
    "d16_sorted_neighborhood" -> q((s, d) =>
      Dedup.sortedNeighborhoodPairs(Tables.documents(s, d))),
    // native codegen'd Jaro-Winkler (same constants as the oracle's
    // builtin): sorted-neighborhood adjacent part names scored, near-
    // match counts + mean similarity pinned per brand
    "d18_jaro_winkler" -> q((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("p_brand").orderBy("p_name", "p_partkey")
      Tables.part(s, d)
        .select(col("p_brand"), col("p_name"), col("p_partkey"))
        .withColumn("nxt", lead("p_name", 1).over(w))
        .filter(col("nxt").isNotNull)
        .withColumn("jw", graft.functions.StringSimilarity
          .jaroWinkler(col("p_name"), col("nxt")))
        .filter(col("jw") >= 0.95)
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_near"), round(avg("jw"), 6).as("avg_jw"))
        .orderBy("p_brand")
    }),
    // corpus-WIDE (no blocking key) exact-Jaccard ≥ τ join via prefix
    // filtering: only each doc's hash-order prefix enters the candidate
    // self-join; the oracle regenerates the complete candidate set from
    // a shingle-postings join, so every qualifying pair is pinned
    "d17_prefix_filter_join" -> q((s, d) =>
      Dedup.prefixFilterPairs(Tables.documents(s, d))),
    // exact substring-level dedup (Lee et al. 2021 ExactSubstr at
    // shingle granularity): the maximal-span cut list of every token
    // region whose 8-shingles all repeat somewhere in the corpus
    "d19_exact_substr" -> q((s, d) =>
      graft.dedup.ExactSubstr.duplicatedSpans(Tables.documents(s, d), k = 8)),
    // the destructive half of the same pass: the cut list APPLIED —
    // surviving token counts and rebuilt text pinned per affected doc
    "d20_strip_spans" -> q((s, d) =>
      graft.dedup.ExactSubstr.stripSpans(Tables.documents(s, d), k = 8)),
    // CCNet-style boilerplate-line removal over the line-structured
    // fixture (t16's '.\n' device): every line repeating in ≥3 docs is
    // dropped corpus-wide and each doc's full reassembled text is
    // pinned — order preserved, all-boiler docs survive empty
    "d27_boilerplate_lines" -> q((s, d) => {
      val lined = Tables.documents(s, d).withColumn("text",
        regexp_replace(col("text"), lit(" a "), lit(".\n")))
      Dedup.removeBoilerplateLines(lined, minDocs = 3).orderBy("doc_id")
    }),
    // BPE merge-table training (Sennrich 2016): 10 rounds of
    // (pair-count aggregation → argmax → row-local merge) over the
    // vocabulary-sized word table; the merge table is the model
    "bpe1_merge_table" -> q((s, d) =>
      graft.text.Bpe.mergeTable(Tables.documents(s, d), nMerges = 10)),
    // encoded-output pin for the same training run: corpus-weighted
    // symbol frequencies after all 10 merges (merged subwords must
    // overtake raw characters exactly as the oracle's replay says)
    "bpe2_encoded_symbols" -> q((s, d) =>
      graft.text.Bpe.encodedSymbolCounts(Tables.documents(s, d),
        nMerges = 10, topK = 20)),
    // tokenizer INFERENCE pinned cross-corpus: merges trained on
    // `documents`, replayed over the part-name vocabulary — subwords
    // only merge where the trained pairs actually occur, so the
    // encoded symbol profile is a genuine out-of-domain application
    // training runs through the driver-local tier (bit-identical to the
    // distributed one — bpe6 pins the pair to one oracle; bpe1 keeps the
    // distributed tier gate-covered): one collect of the vocab-sized
    // word table replaces 10 sequential per-merge Spark jobs
    "bpe3_cross_encode" -> q((s, d) => {
      val merges = graft.text.Bpe.trainLocal(Tables.documents(s, d), nMerges = 10)._1
      graft.text.Bpe.encode(
          Tables.part(s, d).select(col("p_name").as("text")), merges)
        .select(col("freq"), explode(col("symbols")).as("symbol"))
        .groupBy("symbol").agg(sum("freq").as("cnt"))
        .orderBy(desc("cnt"), asc("symbol")).limit(20)
    }),
    // BPE model PERSISTENCE — train, save (parquet merges + params
    // sidecar), reload, encode the same out-of-domain corpus as bpe3;
    // pinned to the IDENTICAL oracle, so a merge row lost, reordered,
    // or re-typed in the round-trip fails the hash
    "bpe5_bpe_model_roundtrip" -> q((s, d) => withTempDir("graft_bpe5") { dir =>
      val merges = graft.text.Bpe.trainLocal(Tables.documents(s, d), nMerges = 10)._1
      graft.text.Bpe.save(merges, s"$dir/bpe", s)
      graft.text.Bpe.encode(
          Tables.part(s, d).select(col("p_name").as("text")),
          graft.text.Bpe.load(s, s"$dir/bpe"))
        .select(col("freq"), explode(col("symbols")).as("symbol"))
        .groupBy("symbol").agg(sum("freq").as("cnt"))
        .orderBy(desc("cnt"), asc("symbol")).limit(20)
    }),
    // the DRIVER-LOCAL training tier at the same 10 merges — one
    // collect of the vocab-sized word table, then the classic
    // in-memory loop (the production path for 30k-merge vocabularies,
    // where train's one-Spark-job-per-round scheduling floor is the
    // scale axis); pinned to bpe1's exact oracle, so both tiers must
    // learn the identical merge table
    "bpe6_local_train" -> q((s, d) =>
      graft.text.Bpe.mergeTableLocal(Tables.documents(s, d), nMerges = 10)),
    // tokenizer fertility (symbols per word) per language under the
    // trained merges — the acceptance metric tokenizer work is judged
    // by; segmentation table is vocab-sized and broadcasts
    "bpe4_fertility" -> q((s, d) => {
      val docs = Tables.documents(s, d)
      val merges = graft.text.Bpe.trainLocal(docs, nMerges = 10)._1
      val seg = graft.text.Bpe.encode(docs, merges)
        .select(col("word"), size(col("symbols")).as("n_sym"))
      docs.select(col("lang"),
          explode(TextAnalysis.tokens(col("text"))).as("word"))
        .groupBy("lang", "word").agg(count(lit(1)).as("freq"))
        .join(broadcast(seg), "word")
        .groupBy("lang")
        .agg(sum("freq").as("n_words"),
          sum(col("freq") * col("n_sym")).as("n_symbols"))
        .withColumn("fertility",
          round(col("n_symbols").cast("double") / col("n_words"), 6))
        .orderBy("lang")
    }),
    // Unigram-LM tokenizer trainer (Kudo 2018, hard-EM/Viterbi form):
    // 3 EM rounds over the word table, count-rank pruning 256→192→144
    // multi-char pieces; the ENTIRE final vocabulary (pieces, Viterbi
    // counts, fixed-point scores) is pinned against a full SQL replay
    // of seed + all three rounds
    "ug1_unigram_vocab" -> q((s, d) =>
      graft.text.UnigramTokenizer.vocabTable(Tables.documents(s, d))),
    // per-language segmentation census under the final model: word and
    // piece masses, EXACT fixed-point corpus log-likelihood (integer
    // arithmetic end-to-end), fertility — the unigram sibling of bpe4
    "ug2_unigram_langstats" -> q((s, d) =>
      graft.text.UnigramTokenizer.langStats(Tables.documents(s, d))),
    // tokenizer INFERENCE pinned cross-corpus (the bpe3 shape): model
    // trained on documents, replayed over the part-name vocabulary with
    // count-0-smoothed UNK scoring for characters the corpus never saw
    "ug3_unigram_cross_segment" -> q((s, d) =>
      graft.text.UnigramTokenizer.crossSegmentCounts(
        Tables.documents(s, d),
        Tables.part(s, d).select(col("p_name").as("text")))),
    // unigram model PERSISTENCE — train, save (vocab parquet + params
    // sidecar), reload, segment a THIRD corpus (part names + brands +
    // types: a mix of in-vocabulary words, words with OOV capitals/
    // digits/'#', and all-OOV words); the pinned `seg` string makes
    // piece READING ORDER part of the contract, so a round-trip that
    // drops a count, re-types a score, or reverses the backtrack
    // fails the hash
    "ug4_unigram_model_roundtrip" -> q((s, d) => withTempDir("graft_ug4") { dir =>
      graft.text.UnigramTokenizer.save(
        graft.text.UnigramTokenizer.trainModel(Tables.documents(s, d)),
        s"$dir/ug")
      graft.text.UnigramTokenizer.segmentWith(
          graft.text.UnigramTokenizer.load(s, s"$dir/ug"),
          Tables.part(s, d).select(concat_ws(" ",
            col("p_name"), col("p_brand"), col("p_type")).as("text")))
        .select(col("word"), size(col("pieces")).cast("long").as("n_pieces"),
          array_join(col("pieces"), " ").as("seg"), col("ll_fp"))
        .orderBy("word").limit(500)
    }),
    // the documented 100 TB path (HLL, no distinct shuffle) machine-checked
    // against the exact twin: per source, the sketch estimate must land
    // within 3·rsd of the oracle-computed exact distinct count
    "d10_segment_dup_approx" -> q((s, d) => {
      val docs = Tables.documents(s, d)
      val exact = Dedup.segmentDupStats(docs)
        .select(col("source"), col("n_segments"), col("n_unique"))
      val approx = Dedup.segmentDupStatsApprox(docs, rsd = 0.01)
        .select(col("source"), col("n_unique").as("n_unique_approx"))
      exact.join(approx, "source")
        .select(col("source"), col("n_segments"), col("n_unique"),
          (abs(col("n_unique_approx") - col("n_unique"))
            <= col("n_unique") * 0.03).as("approx_within_3rsd"))
        .orderBy("source")
    }),
    "d6_strip_dup_segments" -> q((s, d) => Dedup.stripDuplicateSegments(Tables.documents(s, d))),
    "d7_segment_dup_stats" -> q((s, d) => Dedup.segmentDupStats(Tables.documents(s, d))),
    "d8_dup_components" -> q((s, d) => DupGroups.dupComponentSizes(Tables.documents(s, d))),
    // identical component structure via large-star/small-star
    // contraction (O(log² n) rounds regardless of diameter — the scale
    // path when clusters chain instead of cliquing); pinned against the
    // SAME recursive-CTE oracle as d8
    "d21_components_star" -> q((s, d) => {
      val docs = Tables.documents(s, d)
      graft.dedup.StarComponents.connectedComponents(
          DupGroups.dupEdges(docs), docs.select(col("doc_id").as("id")))
        .groupBy(col("comp").as("component"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("component")
    }),
    // cross-source duplication matrix: every 10th doc is mirrored into
    // the NEXT source (case-mangled so only normalization matches);
    // the (source_a, source_b, shared-text) census is pinned exactly
    "d23_cross_source_dups" -> q((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text", "source")
      val srcNum = regexp_extract(col("source"), "src(\\d+)", 1).cast("int")
      val variants = docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"),
          upper(col("text")).as("text"),
          concat(lit("src"), ((srcNum + 1) % 20).cast("string")).as("source"))
      Dedup.crossSourceDups(docs.unionByName(variants))
    }),
    // per-source shingle novelty: what fraction of each source's
    // distinct 8-gram shingles no other source has; full table pinned
    "d26_source_novelty" -> q((s, d) =>
      graft.dedup.Dedup.sourceNovelty(Tables.documents(s, d), k = 8)),
    // language-label conflict census: every 7th doc is re-labeled with
    // a reversed lang code (disjoint from the real label set), so the
    // fixture plants texts that appear under 2 languages; the
    // (n_langs, n_texts, n_docs) census is pinned exactly
    "d24_lang_conflicts" -> q((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text", "lang")
      val variants = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 200000L).as("doc_id"), col("text"),
          reverse(col("lang")).as("lang"))
      Dedup.langConflictCensus(docs.unionByName(variants))
    }),
    // incremental snapshot-vs-batch dedup: incoming (every 3rd doc)
    // deduped against the rest of the corpus AND within itself on the
    // normalized-text digest; accepted membership pinned per language
    "d22_incremental_dedup" -> q((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.incrementalDedup(
          docs.filter(col("doc_id") % 3 === 0),
          docs.filter(col("doc_id") % 3 =!= 0))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_accepted"), sum("doc_id").as("id_sum"),
          min("doc_id").as("id_min"), max("doc_id").as("id_max"))
        .orderBy("lang")
    }),
    // test-set decontamination: eval = every 97th doc; any training doc
    // sharing an 8-token shingle with it is dropped (broadcast semi/anti
    // joins — the eval shingle set is the only broadcast state)
    "d11_decontaminate" -> q((s, d) => {
      val docs = Tables.documents(s, d)
      graft.dedup.Decontaminate.report(docs,
        docs.filter(col("doc_id") % 97 === 0), k = 8)
    }),
    // contamination ATTRIBUTION: the same every-97th eval slice split
    // into two benchmarks (even/odd multiples of 97); which training
    // source leaked which benchmark, and how many shingles, is pinned
    "d25_contamination_matrix" -> q((s, d) => {
      val docs = Tables.documents(s, d)
      val evalDocs = docs.filter(col("doc_id") % 97 === 0)
        .withColumn("eval_set",
          when(col("doc_id") % 194 === 0, "benchA").otherwise("benchB"))
      graft.dedup.Decontaminate.contaminationMatrix(docs, evalDocs, k = 8)
    }),
    // Bloom-filter scale variant machine-checked against the exact path:
    // the oracle re-derives the exact contaminated-id count; the engine
    // proves the bloom id set covers it (false negatives impossible) and
    // that fp over-removal stays under 1% of the corpus (fpp=1e-6 →
    // expected ≈0)
    "d12_decontaminate_bloom" -> q((s, d) => {
      val docs = Tables.documents(s, d)
      val evalSet = docs.filter(col("doc_id") % 97 === 0)
      val exact = graft.dedup.Decontaminate.contaminatedIds(docs, evalSet, 8).persist()
      val bloom = graft.dedup.Decontaminate.contaminatedIdsBloom(docs, evalSet, 8).persist()
      val nDocs = docs.count()
      val out = exact.agg(count(lit(1)).as("n_exact_contaminated"))
        .crossJoin(exact.join(bloom, Seq("doc_id"), "left_anti")
          .agg((count(lit(1)) === 0).as("bloom_covers_exact")))
        .crossJoin(bloom.join(exact, Seq("doc_id"), "left_anti")
          .agg((count(lit(1)) <= nDocs / 100).as("overremoval_le_1pct")))
        .localCheckpoint(eager = true)
      exact.unpersist()
      bloom.unpersist()
      out
    }),
    // --- similarity search (training-data ops) ---
    "n1_ann_topk" -> q((s, d) =>
      Similarity.bruteForceTopK(Tables.embeddings(s, d), 0L until 10L, k = 5)),
    // LSH recall gate: every planted near-dup pair (true cosine ≈ 1) must
    // surface from the bucketed join — the oracle regenerates the clones
    // and lists ALL pairs above threshold, so a single missed pair fails
    "n2_lsh_top_pairs" -> q((s, d) =>
      Similarity.lshNearNeighbors(plantClones(Tables.embeddings(s, d), 25),
          dim = 64, nBits = 8, minSim = 0.99)
        .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"),
          // fixture-sanity guard (oracle demands literal true): every
          // emitted pair must clear the 0.99 threshold with margin, so a
          // regenerated fixture whose planted pairs sit near the
          // threshold fails LOUDLY instead of flaking on float knife
          // edges between DuckDB's and the engine's cosine
          (col("sim") >= 0.9999).as("margin_ok"))
        .orderBy("id_a", "id_b")),
    // adaptive-width LSH over the planted-clone corpus: the top-20 pairs
    // by rounded cosine are exactly the 20 lowest-id planted clones
    // (organic pairs max ≈0.51, clones ≈1.0), so the whole adaptive
    // candidate path — corpus-sized signature width → bucket self-join →
    // rounded ranking — pins to an exact all-pairs oracle; one missed
    // planted pair shifts the id set and fails the gate
    "n6_lsh_adaptive_pairs" -> q((s, d) =>
      Similarity.topCosinePairs(plantClones(Tables.embeddings(s, d), 25),
        dim = 64, n = 20)),
    "n4_exact_top_pairs" -> q((s, d) =>
      Similarity.exactTopPairs(Tables.embeddings(s, d), n = 20)),
    // reciprocal best match (bitext-mining criterion): per-id argmax is
    // a rank-1 window (WindowGroupLimit caps it map-side), reciprocity
    // is a self-join of the n-row NN table — exact twin like n4; the
    // scale path feeds IVF/LSH candidates through the same filter
    "n12_mutual_nn" -> q((s, d) =>
      Similarity.mutualNearestNeighbors(Tables.embeddings(s, d))),
    // MMR diversified top-3 (λ=0.7 over top-10 relevance candidates):
    // greedy trajectory pinned step by step — rounded-score argmax with
    // vec_id tie-break makes the whole greedy path engine-independent
    "r6_mmr_diversified" -> q((s, d) =>
      Similarity.mmrSelect(Tables.embeddings(s, d), queryId = 0L,
        nCand = 10, k = 3, lambda = 0.7)),
    // leave-one-out kNN label accuracy (embedding-quality eval): top-5
    // vote with deterministic (count desc, label asc) tie-break —
    // everything after the sim ranking is exact integer arithmetic
    "ml15_knn_loo" -> q((s, d) =>
      Similarity.knnLooAccuracy(Tables.embeddings(s, d), k = 5)),
    // Clauset-MLE power-law exponent of the degree distribution (the
    // graph twin of t22's Zipf slope): one degree agg + one scalar agg
    "g13_powerlaw_alpha" -> q((s, d) => {
      val edges = Tables.orders(s, d).select(
        pmod(col("o_custkey"), lit(400L)).as("src"),
        pmod(col("o_orderkey"), lit(401L)).as("dst"))
      graft.graph.GraphStats.powerLawAlpha(edges, kmin = 2)
    }),
    // running-peak max drawdown over a signed step series: two stacked
    // windows sharing one exchange; running sums are order-identical
    // cross-engine, so the trajectory pins exactly
    "w28_max_drawdown" -> q((s, d) =>
      graft.operators.Windows.maxDrawdown(
        Tables.events(s, d)
          .select(pmod(col("user_id"), lit(20L)).as("ukey"),
            col("event_id").as("oid"),
            (col("value") - 100.0).as("step")),
        "ukey", Seq("oid"), "step")),
    // exact ±3-row rolling median per user (interpolating percentile
    // as a window aggregate — frame-bounded state, per-key parallel)
    "w26_rolling_median" -> q((s, d) => {
      val ev = Tables.events(s, d)
        .filter(pmod(col("user_id"), lit(25L)) === 7)
        .select(col("user_id"), col("event_id"), col("value"))
      graft.operators.Windows
        .rollingMedian(ev, "user_id", Seq("event_id"), "value", radius = 3)
        .orderBy("user_id", "event_id")
    }),
    "n5_label_centroids" -> q((s, d) =>
      Similarity.labelCentroids(Tables.embeddings(s, d))),
    // IVF pinned gate: with a planted clone per query, the index must
    // route each query to its clone's cell and rank the clone first —
    // query_id, found vec_id, and the exact cosine all oracle-pinned
    "n3_ivf_topk" -> q((s, d) =>
      graft.similarity.Ivf.ivfTopK(plantClones(Tables.embeddings(s, d), 10),
          0L until 10L, k = 1)
        .select(col("query_id"), col("vec_id"), col("sim"),
          // same fixture-sanity guard as n2: the found clone's cosine
          // must clear ≈1 with margin, rejecting near-threshold fixtures
          (col("sim") >= 0.9999).as("margin_ok"))
        .orderBy("query_id")),
    // k=5 IVF invariant gate on the organic corpus, probing 8 of 16
    // cells (half the index pruned). The embeddings are near-random
    // (no cluster structure — the adversarial case for IVF), so the
    // oracle demands a recall floor with margin rather than perfection:
    // recall@5 vs in-engine brute force ≥ 0.6 (measured 0.80 at
    // nprobe=8; 0.62 at the default nprobe=4), plus every reported sim
    // must equal the exact cosine of its (query, vec) pair — a routing
    // or scoring bug fails either boolean loudly
    // embedding-space decontamination (the paraphrase-leakage
    // complement of d11's n-gram pass): every 10th vector is "eval";
    // training vectors whose max cosine to the eval set reaches the
    // fixture-calibrated 0.35 (≈ the 90th percentile of max-sims) are
    // flagged with their nearest eval id
    "n11_semantic_decontaminate" -> q((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.semanticDecontaminate(
        emb.filter(col("vec_id") % 10 =!= 0),
        emb.filter(col("vec_id") % 10 === 0), tau = 0.35)
    }),
    // cross-corpus EXACT k-NN join: every even-id vector's 3 nearest
    // odd-id vectors — the full join surface pinned row by row
    "n9_knn_join" -> q((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.knnJoin(emb.filter(col("vec_id") % 2 === 0),
        emb.filter(col("vec_id") % 2 === 1), k = 3)
    }),
    // the IVF scale tier of the same join (KMeans cells aren't
    // oracle-replayable → invariant gate, n7's pattern): corpus-sized
    // query side, never broadcast; recall vs the in-engine exact twin
    // bounded below, every emitted sim re-verified from raw vectors
    "n10_ivf_knn_join" -> q((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") % 2 === 0)
      val corpus = emb.filter(col("vec_id") % 2 === 1)
      val idx = graft.similarity.Ivf.buildIndex(corpus, nlist = 16)
      val ivf = graft.similarity.Ivf.searchJoin(idx, queries, k = 3,
        nprobe = 8).localCheckpoint(true)
      idx.assignments.unpersist()
      val exact = Similarity.knnJoin(queries, corpus, k = 3)
      val hits = ivf.select("query_id", "vec_id")
        .join(exact.select("query_id", "vec_id"),
          Seq("query_id", "vec_id"), "left_semi")
      val truth = ivf
        .join(queries.select(col("vec_id").as("query_id"),
          col("embedding").as("q_emb")), "query_id")
        .join(corpus.select(col("vec_id"), col("embedding").as("v_emb")),
          "vec_id")
        .select((round(Similarity.cosine(col("q_emb"), col("v_emb")), 6)
          === col("sim")).cast("int").as("ok"))
      ivf.agg(countDistinct("query_id").as("n_queries"),
          count(lit(1)).as("n_rows"))
        .crossJoin(hits.agg(count(lit(1)).as("_hits")))
        .crossJoin(truth.agg((min("ok") === 1).as("sims_match_exact")))
        .select(col("n_queries"), col("n_rows"),
          (col("_hits") >= col("n_rows") * lit(0.6)).as("recall_ge_06"),
          col("sims_match_exact"))
    }),
    "n7_ivf_top5" -> q((s, d) => {
      val emb = Tables.embeddings(s, d)
      val ivf = graft.similarity.Ivf.ivfTopK(emb, 0L until 10L, k = 5,
        nlist = 16, nprobe = 8)
      val exact = Similarity.bruteForceTopK(emb, 0L until 10L, k = 5)
      val hits = ivf.select("query_id", "vec_id")
        .join(exact.select("query_id", "vec_id"),
          Seq("query_id", "vec_id"), "left_semi")
      val truth = ivf
        .join(emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("embedding").as("q_emb")),
          "query_id")
        .join(emb.select(col("vec_id"), col("embedding").as("v_emb")), "vec_id")
        .select((round(Similarity.cosine(col("q_emb"), col("v_emb")), 6)
          === col("sim")).cast("int").as("ok"))
      ivf.agg(countDistinct("query_id").as("n_queries"),
          count(lit(1)).as("n_rows"))
        .crossJoin(hits.agg((count(lit(1)) >= 30).as("recall_ge_06")))
        .crossJoin(truth.agg((min("ok") === 1).as("sims_match_exact")))
    }),
    // product quantization (64 floats → 4 byte codes): planted clones
    // must land in their query's ADC top-5, every query's own vector
    // must achieve the minimum ADC (the per-block argmin property), and
    // all codes must stay inside the codebook range — counts pinned
    "n8_pq_clones" -> q((s, d) => {
      val emb = plantClones(Tables.embeddings(s, d), 50)
      val model = graft.similarity.Pq.train(emb)
      val codes = graft.similarity.Pq.encode(emb, model)
      val top = graft.similarity.Pq.adcTopK(codes, emb, model,
        0L until 10L, kNN = 5)
      val minAdc = top.groupBy("query_id").agg(min("adc").as("min_adc"))
      val selfAtMin = top.filter(col("vec_id") === col("query_id"))
        .join(minAdc, "query_id")
        .select((abs(col("adc") - col("min_adc")) <= 1e-9).cast("int").as("ok"))
      val cloneHits = top.filter(col("vec_id") === col("query_id") + 10000)
      val codeStats = codes.select(explode(col("codes")).as("c"))
        .agg(min("c").as("cmin"), max("c").as("cmax"))
      top.agg(countDistinct("query_id").as("n_queries"),
          count(lit(1)).as("n_rows"))
        .crossJoin(selfAtMin.agg(
          (count(lit(1)) === 10 && min("ok") === 1).as("self_at_min")))
        .crossJoin(cloneHits.agg((count(lit(1)) === 10).as("clones_in_top5")))
        .crossJoin(codeStats.select(
          (col("cmin") >= 0 && col("cmax") < 16).as("codes_in_range")))
    }),
    // --- taxi end-to-end path (SURVEY §3): raw-schema frames synthesized
    // deterministically from `events`, run through the CLI's own
    // EtlJob.transform (SchemaNormalizer detection + every Cleaning
    // constant), then the AnalyticsJob aggregates — each pinned to a
    // DuckDB oracle that regenerates the identical raw rows ---
    "x1_taxi_hourly_fare" -> q((s, d) => {
      val t = cli.EtlJob.transform(taxi.TaxiFixture.yellowFromEvents(Tables.events(s, d)), "yellow")
      cli.AnalyticsJob.hourlyFare(t)
        .select(col("pickup_hour"),
          round(col("avg_fare_per_mile"), 4).as("avg_fare_per_mile"),
          col("trip_count"))
    }),
    "x2_taxi_trips_by_dow" -> q((s, d) =>
      cli.AnalyticsJob.tripsByDow(
        cli.EtlJob.transform(taxi.TaxiFixture.yellowFromEvents(Tables.events(s, d)), "yellow"))),
    "x3_taxi_busiest_pickup" -> q((s, d) =>
      cli.AnalyticsJob.busiestZones(
        cli.EtlJob.transform(taxi.TaxiFixture.yellowFromEvents(Tables.events(s, d)), "yellow"),
        "pu_zone")),
    "x4_taxi_busiest_dropoff" -> q((s, d) =>
      cli.AnalyticsJob.busiestZones(
        cli.EtlJob.transform(taxi.TaxiFixture.yellowFromEvents(Tables.events(s, d)), "yellow"),
        "do_zone")),
    "x5_taxi_multi_schema_union" -> q((s, d) => {
      val ev = Tables.events(s, d)
      val frames = Seq(
        cli.EtlJob.transform(taxi.TaxiFixture.yellowFromEvents(
          ev.filter(col("event_type") === "click")), "yellow"),
        cli.EtlJob.transform(taxi.TaxiFixture.greenFromEvents(
          ev.filter(col("event_type") === "signup")), "green"),
        cli.EtlJob.transform(taxi.TaxiFixture.fhvFromEvents(
          ev.filter(col("event_type") === "view")), "fhv"),
        cli.EtlJob.transform(taxi.TaxiFixture.fhvhvFromEvents(
          ev.filter(col("event_type") === "purchase")), "fhvhv"))
      taxi.SchemaNormalizer.unionCanonical(frames)
        .groupBy("cab_type")
        .agg(count(lit(1)).as("n_trips"),
          count(when(col("fare").isNull, 1)).as("n_null_fare"),
          count(when(col("distance_mi").isNull, 1)).as("n_null_dist"),
          round(sum(coalesce(col("total"), lit(0.0))), 2).as("total_sum"))
        .orderBy("cab_type")
    }),
    // A5+A10 composed through the CLI chain (`analytics_pandas.py:219-
    // 225`): the events fixture spans one calendar month, so the gate
    // deterministically spreads trips over six months (event_id % 6,
    // calendar-month add — mirrored exactly in the oracle) before the
    // same EtlJob.transform; then monthlyTrend pins the yyyy-MM grid,
    // per-month counts/fares, and each month's pct of the earliest month
    "x7_taxi_monthly_trend" -> q((s, d) => {
      val spread = Tables.events(s, d).withColumn("ts",
        col("ts") + expr("make_interval(0, CAST(event_id % 6 AS INT), 0, 0, 0, 0, 0)"))
      cli.AnalyticsJob.monthlyTrend(
        cli.EtlJob.transform(taxi.TaxiFixture.yellowFromEvents(spread), "yellow"))
    }),
    // P2/P3/P9 constants pinned DIRECTLY (not through downstream
    // aggregates): per-rule rejection counts over the canonical frame
    // plus survivor count and derived-duration extrema through the real
    // EtlJob.transform chain. The fixture straddles every bound, so
    // dur_min=1/dur_max=1439 pin the (0.5, 1440) duration window and
    // the rejection counts pin the distance/fare bounds; a constant
    // drifting by one unit flips a count at every SF.
    "x11_cleaning_audit" -> q((s, d) => {
      val raw = taxi.TaxiFixture.yellowFromEvents(Tables.events(s, d))
      val canon = taxi.SchemaNormalizer.toCanonical(raw, "yellow")
        .withColumn("duration_min",
          taxi.Cleaning.durationMin(col("pickup_ts"), col("dropoff_ts")))
      val sane = taxi.Cleaning.timestampSanity(col("pickup_ts"), col("dropoff_ts"))
      val rej = canon.agg(
        count(lit(1)).as("n_raw"),
        count(when(!sane, 1)).as("rej_ts_sanity"),
        count(when(sane && col("duration_min") <= taxi.Cleaning.MinDurationMin, 1))
          .as("rej_dur_short"),
        count(when(sane && col("duration_min") >= taxi.Cleaning.MaxDurationMin, 1))
          .as("rej_dur_long"),
        count(when(col("distance_mi").isNotNull &&
          (col("distance_mi") <= taxi.Cleaning.MinDistanceMi ||
            col("distance_mi") >= taxi.Cleaning.MaxDistanceMi), 1))
          .as("rej_distance"),
        count(when(col("fare") < taxi.Cleaning.MinFare, 1)).as("rej_fare"))
      val surv = cli.EtlJob.transform(raw, "yellow").agg(
        count(lit(1)).as("n_survivors"),
        round(min("duration_min"), 4).as("dur_min"),
        round(max("duration_min"), 4).as("dur_max"),
        round(avg("duration_min"), 4).as("dur_avg"),
        round(avg("avg_speed_mph"), 4).as("speed_avg"))
      rej.crossJoin(surv) // two one-row aggregates
    }),
    // P8 tolerant timestamp parse, gate-pinned (was unit-only): string
    // pickup timestamps in four deterministic corruption classes run
    // through the REAL SchemaNormalizer.toCanonical projection; bad
    // strings must coerce to NULL (never throw, despite ANSI mode) and
    // parsed values must match DuckDB try_cast to the microsecond
    "x12_tolerant_parse" -> q((s, d) => {
      val raw = Tables.events(s, d).select(
        col("event_id"),
        when(col("event_id") % 4 === 0,
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
          .when(col("event_id") % 4 === 1,
            concat(lit("garbage-"), (col("event_id") % 10).cast("string")))
          .when(col("event_id") % 4 === 2, lit(""))
          .otherwise(date_format(col("ts"), "yyyy-MM-dd"))
          .as("tpep_pickup_datetime"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss")
          .as("tpep_dropoff_datetime"),
        lit("1.5").as("trip_distance"),
        // numeric coercion rides the same gate: garbage → NULL
        when(col("event_id") % 5 === 0, lit("oops"))
          .otherwise((col("event_id") % 50).cast("string")).as("fare_amount"))
      taxi.SchemaNormalizer.toCanonical(raw, "yellow").agg(
        count(lit(1)).as("n_rows"),
        count(col("pickup_ts")).as("n_parsed"),
        count(when(col("pickup_ts").isNull, 1)).as("n_null"),
        // mod a prime: the raw µs sum overflows Long past ~5M rows
        sum(pmod(unix_micros(col("pickup_ts")), lit(1000000007L)))
          .as("ts_checksum"),
        count(col("dropoff_ts")).as("n_dropoff_parsed"),
        count(col("fare")).as("n_fare_parsed"),
        round(sum("fare"), 4).as("fare_sum"))
    }),
    // J2's literal reference form (`generate_notebooks_auto.py:383-430`):
    // cleaned trips × the zone-lookup CSV dimension, broadcast-joined on
    // pickup zone, borough-level rollup — exercises the S12 CSV scan
    // (readZoneLookup's enforced schema) end to end, not just in units
    "x6_zone_borough_join" -> q((s, d) => {
      val zones = sources.CuratedWriter.readZoneLookup(s, taxi.TaxiFixture.zoneLookupCsv())
      val trips = cli.EtlJob.transform(
        taxi.TaxiFixture.yellowFromEvents(Tables.events(s, d)), "yellow")
      trips.join(broadcast(zones), trips("pu_zone") === zones("LocationID"))
        .groupBy("Borough")
        .agg(count(lit(1)).as("trip_count"),
          round(sum(coalesce(col("fare"), lit(0.0))), 2).as("fare_sum"),
          round(avg("distance_mi"), 4).as("avg_distance"))
        .orderBy("Borough")
    }),
    // --- composed training-data prep pipeline ---
    "tp1_pipeline_summary" -> q((s, d) =>
      graft.pipeline.TrainingData.summary(Tables.documents(s, d))),
    // deterministic exact-quota mixture: member identity pinned via
    // per-source id aggregates (sum/min/max of chosen doc_ids) — the
    // oracle reproduces the same (fnv1a32(id), id) ranking and must
    // select the identical documents; src3's over-quota exercises the
    // keep-all clamp
    "tp2_mixture_quota" -> q((s, d) =>
      graft.pipeline.TrainingData.mixtureByQuota(Tables.documents(s, d),
          Map("src0" -> 10, "src1" -> 5, "src2" -> 25, "src3" -> 40))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"),
          min("doc_id").as("id_min"), max("doc_id").as("id_max"))
        .orderBy("source")),
    // Efraimidis–Spirakis exact-k weighted draw: weight = quality
    // rounded to 6 (bit-reproducible on both sides), u from the seeded
    // id hash, sample = top-40 by u^(1/w) — full selected rows pinned
    // in rank order against the oracle's recomputation
    "r2_weighted_sample" -> q((s, d) => {
      val withW = Tables.documents(s, d).select(col("doc_id"), col("text"))
        .withColumn("weight",
          round(graft.text.TextAnalysis.qualityScore(col("text")), 6))
      graft.pipeline.TrainingData
        .weightedSampleExact(withW, 40, col("weight"))
        .select(col("doc_id"), col("weight"),
          round(col("es_key"), 6).as("es_key"))
    }),
    // stratified A-ES: the same deterministic u^(1/w) draw, but an
    // independent exact-5 sample per SOURCE via the partitioned
    // row_number — per-stratum quota sampling, full rows pinned
    "r4_group_weighted_sample" -> q((s, d) => {
      val withW = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("text"))
        .withColumn("weight",
          round(graft.text.TextAnalysis.qualityScore(col("text")), 6))
      graft.pipeline.TrainingData
        .weightedSamplePerGroup(withW, 5, col("weight"), "source")
        .select(col("source"), col("doc_id"), col("weight"),
          round(col("es_key"), 6).as("es_key"))
        .orderBy(col("source"), col("es_key").desc, col("doc_id"))
    }),
    // DSIR importance resampling: hashed unigram+bigram bucket models
    // (target = English docs, raw = the rest), add-1-smoothed log
    // importance ratios summed per doc, Gumbel top-30 draw — selected
    // rows pinned in rank order against the oracle's full replay
    "r3_dsir_select" -> q((s, d) =>
      graft.text.Dsir.selectTopK(Tables.documents(s, d),
          col("lang") === "en", k = 30, buckets = 4096)
        .select(col("doc_id"), col("n_features"),
          round(col("log_w"), 6).as("log_w"),
          round(col("gumbel_key"), 6).as("gumbel_key"))),
    // hybrid-retrieval RRF: BM25 top-50 (r1's query) fused with the
    // dense cosine top-50 around vec_id 0 at k=60 — ranks are integer
    // and both engines' reciprocal sums are bit-identical, so the fused
    // ordering is exact; top-20 with both source ranks pinned
    "r5_rrf_fusion" -> q((s, d) => {
      val lex = graft.text.Fusion.withRank(
        graft.text.Bm25.topK(Tables.documents(s, d),
          Seq("hash", "join", "window", "spark"), k = 50),
        "bm25", "doc_id")
      val dense = Similarity.bruteForceTopK(Tables.embeddings(s, d),
          Seq(0L), k = 50)
        .select(col("vec_id").as("doc_id"), col("rank"))
      graft.text.Fusion.rrf(
        Seq("lex" -> lex, "dense" -> dense), "doc_id", k = 60, topN = 20)
    }),
    // quality-proportional deterministic thinning: keep probability
    // min(quality·rate, 1) decided by the id hash — kept membership is a
    // pure function of (id, text); the oracle recomputes the same
    // quality formula (t6's, rounded to 6) and hash threshold
    "tp4_quality_weighted" -> q((s, d) =>
      graft.pipeline.TrainingData
        .qualityWeightedSample(Tables.documents(s, d), rate = 0.8)
        .select(col("lang"), col("doc_id"),
          graft.text.TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"),
          sum("n_tokens").as("tok_sum"))
        .orderBy("lang")),
    // deterministic token-budget prefix draw over the fnv-shuffled
    // stream — the cumsum runs through the distributed prefix sum
    // (per-partition offsets), and the kept set is a pure function of
    // ids+texts, so the oracle replays it with a window cumsum
    "tp3_token_budget" -> q((s, d) =>
      graft.pipeline.TrainingData.tokenBudgetSample(Tables.documents(s, d), 15000L)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"),
          sum("n_tokens").as("tok_sum"))
        .orderBy("source")),
    // cross-source quantile normalization: each doc's within-source
    // percentile mapped to the GLOBAL distribution's value at that
    // percentile — per-source window + prefix-sum global rank + one
    // integer-keyed join; every (raw, pct, normalized) triple pinned
    "tp11_quantile_norm" -> q((s, d) =>
      graft.pipeline.QuantileNorm.normalize(
          Tables.documents(s, d), "source", "n_chars", "doc_id")
        .orderBy("doc_id")),
    // per-source epoch schedule (LLaMA-style epochs table): weights
    // rise linearly with the source number (w = srcNum+1, Σ=210), so a
    // 60k-token budget makes heavy sources repeat multiple epochs while
    // light ones sample fractionally; the whole table is pinned
    "tp10_epoch_schedule" -> q((s, d) => {
      val weights = (0 until 20).map(i => s"src$i" -> (i + 1).toDouble).toMap
      graft.pipeline.TrainingData.epochSchedule(
        Tables.documents(s, d), weights, budgetTokens = 60000L)
    }),
    // temperature-scaled mixture (XLM-R α-sampling): the 20 uniform
    // sources fold into 4 skewed domains (300/100/75/25 at sf0.01), the
    // α=0.5 rates flatten that distribution toward the tail, and the
    // kept membership is pinned per domain via id aggregates — the
    // oracle replays the whole rate computation and the fnv band draw
    "tp6_temperature_mixture" -> q((s, d) => {
      val srcNum = regexp_extract(col("source"), "src(\\d+)", 1).cast("int")
      val docs = Tables.documents(s, d).withColumn("domain",
        when(srcNum <= 11, "web").when(srcNum <= 15, "books")
          .when(srcNum <= 18, "code").otherwise("wiki"))
      val rates = graft.pipeline.TrainingData
        .temperatureRates(docs, "domain", targetFraction = 0.5, alpha = 0.5)
      graft.pipeline.TrainingData
        .temperatureMixture(docs, "domain", targetFraction = 0.5, alpha = 0.5)
        .groupBy("domain")
        .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("id_sum"))
        .join(rates, "domain")
        .select(col("domain"), col("n_docs"), col("q_share"),
          col("keep_band"), col("n_kept"), col("id_sum"))
        .orderBy("domain")
    }),
    // leakage-safe split: every normalized-text dup group lands whole in
    // one split (split = fnv band of the group's min id); the census
    // pins membership per split AND the cross-split leakage count the
    // operator exists to force to zero
    "tp7_group_split" -> q((s, d) => {
      val sp = graft.pipeline.TrainingData
        .splitByGroup(Tables.documents(s, d), trainPct = 80, valPct = 10)
      val leak = sp.groupBy("group_id")
        .agg(countDistinct("split").as("_ns"))
        .agg(coalesce(sum(when(col("_ns") > 1, 1L).otherwise(0L)), lit(0L))
          .as("n_leaky_groups"))
      sp.groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct("group_id").as("n_groups"),
          sum("doc_id").as("id_sum"))
        .crossJoin(broadcast(leak))
        .orderBy("split")
    }),
    // the MOTIVATION for splitByGroup, machine-checked: with injected
    // near-copies (d15's variant convention), id-hash splitting strands
    // copies of the same text across train/val/test while group
    // splitting never does — both leakage counts pinned exactly
    "tp9_leakage_compare" -> q((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val aug = docs.unionByName(docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"),
          upper(regexp_replace(col("text"), " ", "  ")).as("text")))
      val norm = regexp_replace(lower(col("text")), "[ \\t\\n\\f\\r]+", " ")
      def leakOf(df: org.apache.spark.sql.DataFrame, method: String) =
        df.withColumn("_gk", norm).groupBy("_gk")
          .agg(countDistinct("split").as("_ns"))
          .agg(count(lit(1)).as("n_groups"),
            coalesce(sum(when(col("_ns") > 1, 1L).otherwise(0L)), lit(0L))
              .as("n_leaky_groups"))
          .select(lit(method).as("method"), col("n_groups"),
            col("n_leaky_groups"))
      leakOf(graft.pipeline.TrainingData.splitByHash(aug, 80, 10), "hash")
        .unionByName(
          leakOf(graft.pipeline.TrainingData.splitByGroup(aug, 80, 10), "group"))
        .orderBy("method")
    }),
    // FLAGSHIP composed pipeline: CCNet LM scoring → drop each
    // language's tail tertile → temperature-rebalance what survives
    // (α=0.5, 70% target) — three stages as ONE declarative plan, kept
    // membership pinned per language; the oracle replays every stage
    "tp8_llm_pipeline" -> q((s, d) => {
      val kept = graft.text.UnigramLm.ccnetAssign(Tables.documents(s, d), 1000)
        .filter(col("bucket") =!= "tail")
      graft.pipeline.TrainingData
        .temperatureMixture(kept, "lang", targetFraction = 0.7, alpha = 0.5)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"),
          sum("n_tokens").as("tok_sum"))
        .orderBy("lang")
    }),
    // central length-band trim: exact global p5/p95 token-count bounds
    // (single-row agg broadcast back), membership pinned per language
    "t18_length_band" -> q((s, d) =>
      graft.pipeline.TrainingData.trimToLengthBand(Tables.documents(s, d), 0.05, 0.95)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tok_sum"),
          sum("doc_id").as("id_sum"))
        .orderBy("lang")),
    // per-source KL divergence vs the corpus blend over a 64-bucket
    // hashed-token histogram — exact over the bucketed distributions,
    // double drift absorbed by round(6) (the g1 fixpoint precedent)
    "t19_source_divergence" -> q((s, d) =>
      graft.text.TextAnalysis.sourceDivergence(Tables.documents(s, d), 64)),
    // per-language Zipf slope over the vocabulary head (minCount
    // pruned BEFORE the per-lang rank window): natural text ≈ −1
    "t22_zipf_slope" -> q((s, d) =>
      graft.text.TextAnalysis.zipfSlope(Tables.documents(s, d),
        minCount = 5L, topK = 500)),
    // PMI collocations: top-20 adjacent pairs by pointwise mutual
    // information (min support 5) — phrase detection; component counts
    // and the smoothest-free score pinned, rank by unrounded score
    "t21_pmi_phrases" -> q((s, d) =>
      graft.text.TextAnalysis.pmiPhrases(Tables.documents(s, d),
        k = 20, minCount = 5L)),
    // duplicated-8-gram coverage rolled up per source: the exact-
    // substring-dedup proxy signal, fnv-hashed shingle occurrence counts
    // replayed identically by the oracle
    "t20_dup_ngram_coverage" -> q((s, d) => {
      val cov = graft.dedup.Dedup.dupNgramCoverage(Tables.documents(s, d), k = 8)
      Tables.documents(s, d).select(col("doc_id"), col("source"))
        .join(cov, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_dup").as("dup_shingles"),
          sum("n_shingles").as("total_shingles"),
          round(avg("dup_coverage"), 6).as("avg_coverage"))
        .orderBy("source")
    }),
    // deterministic fnv-mod shard assignment: per-shard membership and
    // byte mass pinned exactly (the balance report a sharded training
    // export publishes)
    "sh1_shard_profile" -> q((s, d) =>
      graft.pipeline.TrainingData.shardProfile(Tables.documents(s, d), 8)),
    // per-stratum keep rates resolved row-locally; kept membership is a
    // pure function of (doc_id, source) so fully pinned — src2 at 100%
    // and the 5% default exercise both clamp ends
    "p20_stratified_sample" -> q((s, d) =>
      graft.operators.Relational.stratifiedHashSample(Tables.documents(s, d),
          "doc_id", "source",
          Map("src0" -> 50, "src1" -> 10, "src2" -> 100, "src3" -> 25),
          defaultPct = 5)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"),
          min("doc_id").as("id_min"), max("doc_id").as("id_max"))
        .orderBy("source")),
    // single-pass column profiler (exact countDistinct → Expand, the
    // oracle-pinnable form; approx twin is the 100 TB path)
    "pr1_column_profile" -> q((s, d) =>
      graft.operators.Profile.columnProfile(Tables.orders(s, d),
          Seq("o_custkey", "o_orderpriority", "o_orderstatus", "o_totalprice"))
        .select(col("column"), col("n_rows"), col("n_null"), col("n_distinct"),
          round(col("min_num"), 4).as("min_num"),
          round(col("max_num"), 4).as("max_num"),
          col("min_str"), col("max_str"))),
    // the profiler's 100 TB twin under contract: HLL distinct counts
    // must land within 3·rsd of the exact profile (t12/a27 pattern —
    // the oracle computes the exact side and DEMANDS the booleans)
    "pr2_profile_approx" -> q((s, d) => {
      val cols = Seq("o_custkey", "o_orderpriority", "o_orderstatus")
      val exact = graft.operators.Profile.columnProfile(Tables.orders(s, d), cols)
        .select(col("column"), col("n_rows"), col("n_null"),
          col("n_distinct").as("distinct_exact"))
      val approx = graft.operators.Profile
        .columnProfile(Tables.orders(s, d), cols, exact = false)
        .select(col("column"), col("n_distinct").as("distinct_approx"))
      exact.join(approx, "column")
        .select(col("column"), col("n_rows"), col("n_null"), col("distinct_exact"),
          (abs(col("distinct_approx") - col("distinct_exact"))
            <= greatest(col("distinct_exact") * 0.15, lit(2L)))
            .as("approx_within_bound"))
        .orderBy("column")
    }),
    // Bloom pre-filtered fact⋈dim join: false positives are re-verified
    // by the join itself, so the result is EXACTLY the plain join the
    // oracle runs — what the gate pins is that the shuffle-reduction
    // path loses nothing
    "j7_bloom_prefilter" -> q((s, d) => {
      val dim = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      graft.operators.BloomJoin.bloomPrefilteredJoin(
          Tables.orders(s, d), dim, "o_custkey", "c_custkey", 1L << 16)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("revenue"),
          sum("o_orderkey").as("key_sum"))
        .orderBy("o_orderpriority")
    }),
    // --- sequence packing / split / quantization (training-data ops) ---
    // concat-then-chunk packing profile at 512-token sequences: the
    // global token cumsum runs through the two-pass distributed prefix
    // sum (per-partition offsets, no data-sized single-task window); the
    // oracle replays the same chunking with a plain window cumsum
    "pk1_sequence_packing" -> q((s, d) =>
      graft.pipeline.Packing.sequenceProfile(Tables.documents(s, d), 512,
        graft.text.TextAnalysis.tokenCount(col("text"))).limit(50)),
    // RAG-style overlapping chunking (128 chars, 40 overlap): per-doc
    // chunk accounting pinned — counts, covered character mass, and the
    // clipped-tail min/max, all replayed by the oracle's range+substring
    "pc1_chunk_profile" -> q((s, d) =>
      graft.pipeline.Packing.chunkProfile(Tables.documents(s, d), 128, 40)
        .limit(100)),
    // hash-banded train/val/test split: membership is a pure function of
    // doc_id, so the oracle re-derives the identical split and the gate
    // pins per-split membership via id aggregates
    "sp1_hash_split" -> q((s, d) =>
      graft.pipeline.TrainingData.splitByHash(Tables.documents(s, d))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"),
          min("doc_id").as("id_min"), max("doc_id").as("id_max"))
        .orderBy("split")),
    // int8 quantization audit: the quantized values themselves are
    // pinned (exact integer q_sum/min/max per vector) plus the
    // scale/2 reconstruction bound — the oracle replays the identical
    // double arithmetic (floor(x/scale + 0.5)) over the same vectors
    "e1_int8_quant" -> q((s, d) =>
      graft.similarity.Quantize.reconstructionAudit(Tables.embeddings(s, d))
        .orderBy("vec_id").limit(100)),
    // deterministic JL random projection 64-d → 8-d: every projected
    // component pinned to 6 dp — the oracle embeds the IDENTICAL
    // splitmix64-derived matrix as literals (no stored model on either
    // side), so the gate pins the full projection arithmetic
    "e2_random_projection" -> q((s, d) => {
      val proj = graft.similarity.Quantize.randomProject(
        Tables.embeddings(s, d).filter(col("vec_id") < 20), dim = 64, outDim = 8)
      val comps = (0 until 8).map(j =>
        struct(lit(j.toLong).as("j"), col(s"p$j").as("c")))
      proj.select(col("vec_id"), explode(array(comps: _*)).as("pc"))
        .select(col("vec_id"), col("pc.j").as("j"),
          round(col("pc.c"), 6).as("comp"))
        .orderBy("vec_id", "j")
    }),
    // exact d×d covariance via per-partition co-moment accumulation
    // (zero shuffle, O(d²) task state — never the rows·d² explode+
    // self-join fan-out); all 2080 upper-triangle entries pinned
    // against the oracle's covar_pop at 6 dp
    "e3_covariance_matrix" -> q((s, d) =>
      graft.similarity.Covariance.covarianceMatrix(Tables.embeddings(s, d))),
    // PCA = one-pass distributed covariance + driver-side Jacobi eigen
    // (d×d — scan-free) + row-local projection. The gate pins every
    // invariant the SQL oracle can independently state: Σλ = trace(C)
    // = Σ per-dim variance (rounded 6 dp), PSD / ordering /
    // orthonormality flags, and var_pop(score_0) = λ0 measured
    // DISTRIBUTED over the projected rows — the end-to-end proof the
    // projection actually concentrates the leading variance
    "e5_pca_invariants" -> q((s, d) => {
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      val model = graft.similarity.Pca.fit(emb, k = 2)
      val scored = graft.similarity.Pca.project(emb, model)
      val v0 = scored.agg(var_pop(col("score_0"))).head.getDouble(0)
      val ev = model.eigenvalues
      val flag = (b: Boolean) => if (b) 1.0 else 0.0
      Seq(
        ("d", ev.length.toDouble),
        ("evals_nonincreasing",
          flag(ev.zip(ev.tail).forall { case (x, y) => x >= y })),
        ("evals_nonneg", flag(ev.forall(_ > -1e-10))),
        ("evals_sum", math.rint(ev.sum * 1e6) / 1e6),
        ("orthonormal_err_lt_1e9", flag(model.orthonormalityError < 1e-9)),
        ("proj_var0_matches_eval0",
          flag(math.abs(v0 - ev(0)) <= 1e-9 * math.max(1.0, ev(0)))))
        .toDF("stat", "value").orderBy("stat")
    }),
    // --- sink round-trips (S9/S11/S12 get CORRECTNESS rows) ---
    // shared scaffold: withTempDir materializes the result (eager
    // localCheckpoint) BEFORE the directory is removed, and fnvSummary
    // pins membership + payload bytes per group in one agg
    // partitioned parquet sink end to end: write documents partitioned
    // by source, read ONE partition back (directory pruning), and pin
    // byte fidelity of the payload via an fnv sum over the text
    "io1_partitioned_roundtrip" -> q((s, d) => withTempDir("graft_io1") { dir =>
      val docs = Tables.documents(s, d)
      graft.sources.CuratedWriter.writePartitioned(docs, s"$dir/docs", Seq("source"))
      fnvSummary(s.read.parquet(s"$dir/docs")
        .filter(col("source") === "src1"), "lang")
    }),
    // dynamic partition overwrite end to end: re-process ONE source
    // (uppercased text) into the tree; that partition must change and
    // every other partition must remain byte-identical to the original —
    // the oracle replays the per-source expectation over the raw table
    "io3_incremental_overwrite" -> q((s, d) => withTempDir("graft_io3") { dir =>
      val docs = Tables.documents(s, d)
      val path = s"$dir/docs"
      graft.sources.CuratedWriter.writePartitioned(docs, path, Seq("source"))
      graft.sources.CuratedWriter.writePartitionedIncremental(
        docs.filter(col("source") === "src2")
          .withColumn("text", upper(col("text"))),
        path, Seq("source"))
      fnvSummary(s.read.parquet(path), "source")
    }),
    // CSV sink + fidelity scan round trip: trimming off on both sides
    // and multiLine on read, so the text bytes are ACTUALLY preserved
    // (not preserved-by-corpus-luck) — same fnv-sum pin
    "io2_csv_roundtrip" -> q((s, d) => withTempDir("graft_io2") { dir =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("text"))
        .filter(length(col("text")) > 0) // CSV cannot distinguish ""/null
      graft.sources.CuratedWriter.writeCsv(docs, s"$dir/csv")
      fnvSummary(graft.sources.CuratedWriter.readCsv(s, s"$dir/csv",
        "doc_id BIGINT, source STRING, text STRING"), "source")
    }),
    // S10 aggregate-table sink end to end: a grouped summary written via
    // writeSummary and read back must reproduce the aggregation exactly
    // (the sink the reference's analytics job persists its rollups to)
    // atomic versioned publish: v=1 (en slice) then v=2 (full corpus);
    // the _LATEST pointer must resolve to v2 while v1 stays readable
    // for time travel — membership + byte mass pinned for BOTH
    "io10_versioned_publish" -> q((s, d) => withTempDir("graft_io10") { root =>
      val docs = Tables.documents(s, d)
      graft.sources.CuratedWriter.publishVersion(
        docs.filter(col("lang") === "en"), root)
      graft.sources.CuratedWriter.publishVersion(docs, root)
      val pinned = fnvSummary(
        graft.sources.CuratedWriter.readLatest(s, root, Some(1)), "lang")
        .withColumn("version", lit(1))
      val latest = fnvSummary(
        graft.sources.CuratedWriter.readLatest(s, root), "lang")
        .withColumn("version", lit(2))
      pinned.unionByName(latest).orderBy("version", "lang")
    }),
    "io7_summary_sink" -> q((s, d) => withTempDir("graft_io7") { dir =>
      val summary = Tables.documents(s, d)
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
      graft.sources.CuratedWriter.writeSummary(summary, s"$dir/summary")
      s.read.parquet(s"$dir/summary").orderBy("source", "lang")
    }),
    // A24/U2 schema set-compare as data: per-table unique columns plus
    // the all-tables-common set, pinned against the oracle's
    // information_schema view of the same parquet files
    "sc1_schema_compare" -> q((s, d) => {
      import s.implicits._
      val rep = graft.operators.SchemaCompare.compare(Map(
        "orders" -> Tables.orders(s, d),
        "customer" -> Tables.customer(s, d),
        "lineitem" -> Tables.lineitem(s, d)))
      val rows =
        rep.onlyIn.toSeq.flatMap { case (t, cols) =>
          cols.toSeq.map(c => (t, c, "only")) } ++
        rep.common.toSeq.map(c => ("*", c, "common"))
      rows.toDF("table_name", "column_name", "status")
        .orderBy("table_name", "column_name")
    }),
    // ORC sink/scan round trip: parallel write, vectorized read-back —
    // byte fidelity pinned the same way as the parquet/CSV/JSONL sinks
    "io8_orc_roundtrip" -> q((s, d) => withTempDir("graft_io8") { dir =>
      graft.sources.CuratedWriter.writeOrc(Tables.documents(s, d), s"$dir/docs")
      fnvSummary(graft.sources.CuratedWriter.readOrc(s, s"$dir/docs"), "source")
    }),
    // JSONL sink round trip: the corpus-interchange format — lossless
    // for every payload (escaped control chars, null ≠ ""), so the
    // whole table round-trips with no filter and the same fnv pin
    "io4_jsonl_roundtrip" -> q((s, d) => withTempDir("graft_io4") { dir =>
      graft.sources.CuratedWriter.writeJsonl(Tables.documents(s, d), s"$dir/docs")
      fnvSummary(graft.sources.CuratedWriter.readJsonl(s, s"$dir/docs",
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"),
        "source")
    }),
    // schema evolution on read (the drift case the reference monitors
    // procedurally, Report §7.3): an old drop lacking a column merges
    // with a newer one via mergeSchema; missing values surface as nulls,
    // nothing is dropped or misaligned — membership + byte mass pinned
    "io5_schema_evolution" -> q((s, d) => withTempDir("graft_io5") { dir =>
      val docs = Tables.documents(s, d)
      docs.filter(col("doc_id") % 2 === 0).select("doc_id", "text")
        .write.parquet(s"$dir/old")
      docs.filter(col("doc_id") % 2 =!= 0).select("doc_id", "text", "lang")
        .write.parquet(s"$dir/new")
      s.read.option("mergeSchema", "true").parquet(s"$dir/old", s"$dir/new")
        .groupBy(col("lang").isNull.as("lang_missing"))
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"),
          sum(length(col("text"))).as("chars"))
        .orderBy("lang_missing")
    }),
    // writer-side drift guard end to end: a drifted month (lang dropped
    // upstream, n_chars appeared) must be REFUSED by default — the gate
    // machine-checks the refusal — and accepted only under widen = true,
    // which lands missing columns as typed nulls; merged-read pinned
    "io6_drift_guarded_write" -> q((s, d) => withTempDir("graft_io6") { dir =>
      val docs = Tables.documents(s, d)
      val path = s"$dir/docs"
      graft.sources.CuratedWriter.writePartitioned(
        docs.filter(col("source") =!= "src3")
          .select("doc_id", "text", "lang", "source"),
        path, Seq("source"))
      val drifted = docs.filter(col("source") === "src3")
        .select("doc_id", "text", "source", "n_chars")
      val refused =
        try {
          graft.sources.CuratedWriter.writePartitionedIncrementalChecked(
            drifted, path, Seq("source"))
          false
        } catch { case _: IllegalStateException => true }
      require(refused, "drift guard failed to refuse a drifted write")
      graft.sources.CuratedWriter.writePartitionedIncrementalChecked(
        drifted, path, Seq("source"), widen = true)
      s.read.option("mergeSchema", "true").parquet(path)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"),
          count(when(col("lang").isNull, 1)).as("n_null_lang"),
          sum("n_chars").as("chars_sum"))
        .orderBy("source")
    }),
    // --- multimodal plumbing (training-data ops) ---
    // frame-sampling plumbing pinned end-to-end: 64-byte frames, every
    // 2nd kept, per-source frame count / byte mass / per-frame FNV sum
    // (the oracle re-slices the ASCII payload in SQL)
    "m5_frame_checksums" -> q((s, d) => {
      val docs = Tables.documents(s, d)
      Multimodal.sampleFrames(Multimodal.withBinaryPayload(docs))
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        .select(col("source"), length(col("frame")).as("fb"),
          graft.functions.HashExpressions.fnv1a32(col("frame").cast("string"))
            .as("h"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_frames"), sum("fb").as("bytes_kept"),
          sum("h").as("fnv_sum"))
        .orderBy("source")
    }),
    "m1_payload_stats" -> q((s, d) => Multimodal.payloadStats(Tables.documents(s, d))),
    "m2_multimodal_features" -> q((s, d) =>
      Multimodal.extractFeatures(Multimodal.withBinaryPayload(Tables.documents(s, d)))
        .orderBy("doc_id").limit(100)),
    // real codec round-trip: PNG-encode deterministic pixels executor-side,
    // ImageIO-decode them back; the oracle recomputes the expected decode
    // output from the same integer pixel formula — no codec needed there
    "m3_real_decode" -> q((s, d) =>
      Multimodal.decodeImageFeatures(Multimodal.withImagePayload(
          Tables.documents(s, d).filter(col("doc_id") < 100)))
        .select(col("doc_id"), col("width"), col("height"),
          round(col("mean_px"), 6).as("mean_px"))
        .orderBy("doc_id")),
    // real audio round trip: RIFF/WAVE PCM16 encode executor-side, then
    // a real container parse + signal features; the oracle recomputes
    // RMS / zero crossings / peak from the closed-form samples directly
    "m6_audio_features" -> q((s, d) =>
      Multimodal.decodeWavFeatures(Multimodal.withWavPayload(
          Tables.documents(s, d).filter(col("doc_id") < 100)))
        .select(col("doc_id"), col("sample_rate"), col("n_samples"),
          round(col("rms"), 6).as("rms"),
          col("zero_crossings"), col("peak"))
        .orderBy("doc_id")),
    // real resize round-trip: PNG decode → nearest-neighbor resample →
    // PNG re-encode executor-side, then decode the RESIZED payload; the
    // oracle recomputes dims and mean pixel from the same closed-form
    // sampling (dst (x,y) reads src (x*w/dw, y*h/dh)) — no codec needed
    "m4_real_resize" -> q((s, d) =>
      Multimodal.decodeImageFeatures(Multimodal.resizeImagePayloads(
          Multimodal.withImagePayload(
            Tables.documents(s, d).filter(col("doc_id") < 100)), factor = 2))
        .select(col("doc_id"), col("width"), col("height"),
          round(col("mean_px"), 6).as("mean_px"))
        .orderBy("doc_id")),
    // neighborhood-overlap link prediction: wedges via ONE adjacency
    // self-join on the middle node, scores summed per canonical pair,
    // existing edges anti-joined out, top-20 by Adamic-Adar with a
    // total-order tie-break on the pair id. Fixture is a SPARSE
    // bipartite graph (customer — order-bucket, avg degree ~10) — the
    // realistic regime; a dense mod-2000 variant ran 22M wedges at
    // sf0.1 for the same 20 answers
    "g16_link_prediction" -> q((s, d) => {
      val edges = Tables.orders(s, d).select(
        col("o_custkey").as("src"),
        (lit(20000L) + pmod(col("o_orderkey"), lit(19997L))).as("dst"))
      graft.graph.LinkPrediction.adamicAdarTopK(edges, k = 20)
    }),
    // Fellegi–Sunter probabilistic linkage: nation-blocked customer
    // pairs, three agreement fields (segment / balance band / name
    // tail), u-rates estimated from the candidate-pair population in
    // one aggregate, log2 match weights reported per agreement pattern
    "er2_fs_weights" -> q((s, d) => {
      import graft.dedup.Linkage
      val recs = Tables.customer(s, d).select(col("c_custkey"),
        col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).as("bal_band"),
        substring(col("c_name"), -1, 1).as("name_tail"))
      Linkage.matchWeights(recs, "c_custkey", "c_nationkey", Seq(
        Linkage.CompareField("seg",
          col("l_c_mktsegment") === col("r_c_mktsegment"), 0.95),
        Linkage.CompareField("band",
          col("l_bal_band") === col("r_bal_band"), 0.80),
        Linkage.CompareField("tail",
          col("l_name_tail") === col("r_name_tail"), 0.90)))
    }),
    // seasonal-naive forecast accuracy (MASE, Hyndman-Koehler
    // denominator) over the 30-day × 5-type daily event series
    "w29_seasonal_mase" -> q((s, d) =>
      graft.operators.Forecast.seasonalNaiveMase(
        Tables.events(s, d)
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(avg(col("value")).as("v")),
        "event_type", "day", "v", season = 7)),
    // Holt linear-trend smoothing as a declarative higher-order fold
    // (no closures, fixed evaluation order); the oracle replays the
    // identical recurrence as a recursive CTE
    "w30_holt_forecast" -> q((s, d) =>
      graft.operators.Forecast.holt(
        Tables.events(s, d)
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(avg(col("value")).as("v")),
        "event_type", "day", "v", alpha = 0.3, beta = 0.1)),
    // split-conformal OLS intervals: fit on orderkey%10<6, calibrate
    // the |residual| quantile on %10∈{6,7}, report coverage on the
    // rest; coefficients snapped to the 6dp grid so every residual is
    // bit-identical across engines (see Conformal scaladoc)
    "ml18_conformal" -> q((s, d) => {
      val f = Tables.lineitem(s, d)
        .withColumn("_s", pmod(col("l_orderkey"), lit(10L)))
      graft.ml.Conformal.intervalReport(
        f.filter(col("_s") < 6), f.filter(col("_s").isin(6, 7)),
        f.filter(col("_s") >= 8),
        col("l_extendedprice"), col("l_quantity"), col("l_discount"),
        level = 0.9)
    }),
    // grouped Theil–Sen robust trend over the monthly revenue series
    // per returnflag: pairwise slopes only at the calendar-bounded
    // aggregated tier, exact interpolating medians
    "a50_theil_sen" -> q((s, d) =>
      graft.ml.TheilSen.slopeByGroup(
        Tables.lineitem(s, d)
          .groupBy(col("l_returnflag"),
            ((year(col("l_shipdate")) - 1995) * 12
              + month(col("l_shipdate")) - 1).as("mx"))
          .agg(avg(col("l_extendedprice")).as("my")),
        "l_returnflag", "mx", "my")),
    // peak-concurrency sweep over value-length intervals: +1/-1 event
    // explode, one running-sum window, half-open tie semantics; peak
    // and first-peak time are order-invariant under timestamp ties
    "w32_max_concurrency" -> q((s, d) => {
      val iv = Tables.events(s, d)
        .filter(col("ts").isNotNull && col("value").isNotNull
          && !isnan(col("value")))
        .select(col("event_type"),
          unix_timestamp(col("ts")).as("start_s"), col("value"))
        .withColumn("end_s",
          col("start_s") + floor(abs(col("value"))).cast("long") + 1)
        .drop("value")
      graft.operators.Intervals.maxConcurrency(iv, "event_type",
        "start_s", "end_s")
    }),
    // entity-resolution blocking quality (reduction ratio + pairs
    // completeness): every count is a closed form over group sizes —
    // zero pairs materialized at any corpus size
    "er4_blocking_quality" -> q((s, d) =>
      graft.dedup.Linkage.blockingQuality(
        Tables.customer(s, d)
          .withColumn("entity", pmod(col("c_custkey"), lit(60L))),
        "c_nationkey", "entity")),
    // per-edge embeddedness histogram (tie strength): same oriented
    // O(m^1.5) wedge enumeration as g3, triangles exploded to their
    // three canonical edges, bridges kept via the left join
    "g17_edge_embeddedness" -> q((s, d) => {
      val edges = Tables.orders(s, d).select(
        pmod(col("o_custkey"), lit(3000L)).as("src"),
        pmod(col("o_orderkey"), lit(2999L)).as("dst"))
      graft.graph.Triangles.edgeEmbeddedness(edges)
    }),
    // CDC log compaction: each key's op sequence collapses to its net
    // endpoint effect in ONE min_by/max_by aggregation (no per-key
    // sort); ~75 ops per key net to one row
    "u12_cdc_compaction" -> q((s, d) => {
      val log = Tables.orders(s, d).select(
        pmod(col("o_orderkey"), lit(200L)).as("k"),
        col("o_orderkey").as("seq"),
        when(col("o_orderkey") % 7 === 0, "insert")
          .when(col("o_orderkey") % 7 < 4, "update")
          .otherwise("delete").as("op"),
        when(col("o_orderkey") % 7 =!= 0, col("o_totalprice")).as("before"),
        when(col("o_orderkey") % 7 < 4, col("o_totalprice") + 1).as("after"))
      graft.operators.CdcCompact.compact(log, "k", "seq").orderBy("k")
    }),
    // unsupervised EM fit of the Fellegi-Sunter mixture over the same
    // blocked census as er2 (Winkler 1988): corpus work is ONE pattern
    // aggregation; the 8-row EM fold is driver-side by construction,
    // in fixed pattern-lexicographic order
    "er3_fs_em" -> q((s, d) => {
      val recs = Tables.customer(s, d).select(col("c_custkey"),
        col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).as("bal_band"),
        substring(col("c_name"), -1, 1).as("name_tail"))
      graft.dedup.Linkage.emFit(recs, "c_custkey", "c_nationkey", Seq(
        ("seg", col("l_c_mktsegment") === col("r_c_mktsegment")),
        ("band", col("l_bal_band") === col("r_bal_band")),
        ("tail", col("l_name_tail") === col("r_name_tail"))), iters = 3)
    }),
    // ordered sequential-pattern support (any-gap "a before b", the
    // length-2 Agrawal-Srikant core): corpus collapses to the
    // (user, item, first-ts) tier, quadratic only per user's item set
    "mb2_sequence_pairs" -> q((s, d) =>
      graft.operators.Sequences.orderedPairSupport(
        Tables.events(s, d), "user_id", "ts", "event_type")),
    // incremental view maintenance: the maintained (key -> n, sum)
    // view after a CDC batch (delete %11, update %13, insert %17) must
    // EQUAL the oracle's full recompute over the merged base — the
    // delta rule touches only the batch, never the corpus
    "u11_incremental_agg" -> q((s, d) => {
      import graft.operators.IncrementalAgg
      val base = Tables.orders(s, d)
      val view = IncrementalAgg.viewOf(base, "o_orderstatus", "o_totalprice")
      val deletes = base.filter(col("o_orderkey") % 11 === 0)
        .select(col("o_orderstatus"), lit("delete").as("op"),
          col("o_totalprice").as("before"),
          lit(null).cast("double").as("after"))
      val updates = base
        .filter(col("o_orderkey") % 13 === 0 && col("o_orderkey") % 11 =!= 0)
        .select(col("o_orderstatus"), lit("update").as("op"),
          col("o_totalprice").as("before"),
          (col("o_totalprice") * 1.1).as("after"))
      val inserts = base.filter(col("o_orderkey") % 17 === 0)
        .select(col("o_orderstatus"), lit("insert").as("op"),
          lit(null).cast("double").as("before"),
          (col("o_totalprice") + 5).as("after"))
      IncrementalAgg.applyCdc(view,
          deletes.unionByName(updates).unionByName(inserts), "o_orderstatus")
        .select(col("o_orderstatus"), col("n"),
          round(col("total"), 0).as("total"),
          round(col("total") / col("n"), 4).as("avg_value"))
        .orderBy("o_orderstatus")
    }),
    // Mann-Kendall monotone-trend test with tie-corrected variance and
    // Kendall tau_b, over the same monthly series as a50 — the
    // significance companion to the Theil-Sen slope
    "a51_mann_kendall" -> q((s, d) =>
      graft.ml.MannKendall.testByGroup(
        Tables.lineitem(s, d)
          .groupBy(col("l_returnflag"),
            ((year(col("l_shipdate")) - 1995) * 12
              + month(col("l_shipdate")) - 1).as("mx"))
          .agg(avg(col("l_extendedprice")).as("my")),
        "l_returnflag", "mx", "my")),
    // classical additive seasonal decomposition: centered 7-point MA
    // trend, zero-centered per-phase seasonal indices
    "w31_seasonal_decompose" -> q((s, d) =>
      graft.operators.Forecast.seasonalDecompose(
        Tables.events(s, d)
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(avg(col("value")).as("v")),
        "event_type", "day", "v", period = 7)),
    // one-pass Poisson bootstrap CI for per-type mean value: all 48
    // replicates build in a single partial->final aggregation;
    // multiplicities from the seeded FNV grid, reproduced by the oracle
    "ml21_poisson_bootstrap" -> q((s, d) =>
      graft.ml.Bootstrap.groupMeanCI(
        Tables.events(s, d)
          .filter(col("value").isNotNull && !isnan(col("value"))),
        "event_type", "event_id", "value", b = 48)),
    // Hilbert-curve layout key (better range locality than z1/z2's
    // Morton key): bucket census over the order-4 curve position,
    // pinned against an oracle UNROLLED from the same quadrant fold
    "z3_hilbert_bucket" -> q((s, d) =>
      Tables.lineitem(s, d)
        .select(graft.operators.Hilbert.hilbertKey2(
          pmod(col("l_partkey"), lit(16L)), pmod(col("l_suppkey"), lit(16L)),
          bits = 4).as("hkey"),
          col("l_orderkey"))
        .groupBy(floor(col("hkey") / 16).as("h_bucket"))
        .agg(count(lit(1)).as("n_rows"), min("hkey").as("h_min"),
          max("hkey").as("h_max"), sum("l_orderkey").as("key_sum"))
        .orderBy("h_bucket"))
  ) ++ Map[String, (SparkSession, String) => DataFrame](
    // Kaplan-Meier churn curve on the sparse high-value stream (value >
    // 150 varies per-user lifetimes; the dense stream collapses every
    // duration to the full span) — risk sets, event counts, and the
    // product-limit survival all pinned
    "ml20_kaplan_meier" -> q((s, d) =>
      graft.ml.Survival.kaplanMeier(
        Tables.events(s, d).filter(col("value") > 150),
        "user_id", "ts", censorHorizonDays = 7)),
    // one full rank-1 ALS round over (customer × partkey-mod-50)
    // quantity ratings — deterministic integer init makes the user
    // half-step exact, so the oracle pins real alternating dataflow
    "ml19_als_rank1" -> q((s, d) =>
      graft.ml.Als.rank1Round(
        Tables.lineitem(s, d)
          .join(Tables.orders(s, d),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("u"),
            (col("l_partkey") % 50).as("i"), col("l_quantity").as("r")),
        "u", "i", "r", lambda = 1.0)),
    // equal-credit multi-touch attribution: purchases split value over
    // same-user touches in the trailing 3 days; untouched purchases
    // credit 'direct'
    "at1_linear_attribution" -> q((s, d) =>
      graft.operators.Attribution.linear(Tables.events(s, d),
        "event_id", "user_id", "ts", "event_type", "value",
        convType = "purchase", windowDays = 3)),
    // exact trailing-7-day distinct users per day (WAU) on the sparse
    // high-value stream — bounded explode fan-out, one distinct agg
    "w33_rolling_distinct" -> q((s, d) =>
      Windows.rollingDistinctUsers(
        Tables.events(s, d).filter(col("value") > 250),
        "user_id", "ts", windowDays = 7)),
    // compaction planning over a deterministic pseudo-listing (one
    // "file" per (source, lang) slice, size = character mass) — the
    // bin assignment itself is the operator under test
    "io12_compaction_plan" -> q((s, d) =>
      graft.sources.Compaction.plan(
        Tables.documents(s, d)
          // concat, not concat_ws: NULL-propagating like the oracle's
          // `||`, so a NULL source/lang can't silently fork the path key
          .groupBy(concat(col("source"), lit("/"), col("lang")).as("path"))
          .agg(sum("n_chars").as("bytes")),
        "path", "bytes", nBins = 6)),
    // IVF index persistence round trip: fit + assign ONCE, save, load,
    // and the reloaded index must reproduce the fresh index's search
    // results exactly (doubles round-trip through parquet bit-exactly;
    // scoring and tie-breaks are deterministic)
    "io14_ivf_persist" -> q((s, d) => withTempDir("graft_io14") { dir =>
      val idx = graft.similarity.Ivf.buildIndex(Tables.embeddings(s, d))
      graft.similarity.Ivf.save(idx, s"$dir/ivf")
      val loaded = graft.similarity.Ivf.load(s, s"$dir/ivf")
      val fresh = graft.similarity.Ivf.search(idx, 0L until 10L)
        .localCheckpoint(true)
      val replayed = graft.similarity.Ivf.search(loaded, 0L until 10L)
        .localCheckpoint(true)
      idx.assignments.unpersist()
      loaded.assignments.unpersist()
      val r = replayed.select(col("query_id"), col("rank"),
        col("vec_id").as("r_vec"), col("sim").as("r_sim"))
      fresh.join(r, Seq("query_id", "rank"), "full_outer")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct("query_id").as("n_queries"),
          (count(when(col("vec_id") === col("r_vec")
            && col("sim") === col("r_sim"), 1)) === count(lit(1)))
            .as("match_exact"))
    }),
    // S13 manifest write/read/error-count, gate-pinned (was unit-only):
    // S3 schema-only read, gate-pinned (was unit-only): the full
    // (table, column, type) census of every fixture table from
    // FOOTER-ONLY reads, in DuckDB's type spelling so the oracle's
    // independent DESCRIBE replay pins name+type for every column; the
    // one session contract (TIMESTAMP(NANOS) read as raw int64 ns) is
    // an explicit CASE on both sides
    "io15_schema_census" -> q((s, d) => Tables.schemaCensus(s, d)),
    // persisted band-index screen: the corpus side of the d29 ingest
    // screen is built ONCE, written to parquet, reloaded, and probed —
    // the production lifecycle at 100 TB (recomputing the accumulated
    // corpus per ingest batch is the thing this kills). Pinned to the
    // IDENTICAL oracle as d29/st12, so save/load must be bit-faithful
    "io16_band_index_screen" -> q((s, d) => withTempDir("graft_io16") { dir =>
      val docs = Tables.documents(s, d)
      val idx = Dedup.buildBandIndex(
        docs.filter(pmod(col("doc_id"), lit(3L)) =!= 0), reproducible = true)
      Dedup.saveBandIndex(idx, s"$dir/bandidx")
      Dedup.screenAgainstIndex(
          docs.filter(pmod(col("doc_id"), lit(3L)) === 0),
          Dedup.loadBandIndex(s, s"$dir/bandidx"))
        .filter(col("est_jaccard") >= 0.5)
        .orderBy("doc_in", "doc_corpus").limit(1000)
    }),
    // band-index COMPACTION — the full ingest-loop lifecycle: build on
    // a third of the corpus, save, reload, FOLD the next third in with
    // compactBandIndex (batch-sized work — the indexed side is never
    // re-signed), save the compacted index, reload, screen. Pinned to
    // the IDENTICAL oracle as d29/io16 (whose corpus side is
    // doc_id % 3 <> 0 = exactly initial ∪ batch), so compaction must
    // be bit-equivalent to a fresh full build
    // band-index APPEND — the same ingest lifecycle as io17 driven
    // through the append-only persistence path: build on a third of
    // the corpus, save (batch 0), APPEND the next third in TWO
    // batches (each append writes ONLY its own batch's rows under
    // batch=<n>/ partitions and commits via the _BATCHES pointer
    // flip — never rewriting the accumulated index), reload (bucket
    // census merged on read), screen. Pinned to the IDENTICAL oracle
    // as d29/io16/io17, so the append lifecycle must be
    // bit-equivalent to a fresh full build
    "io18_band_index_append" -> q((s, d) => withTempDir("graft_io18") { dir =>
      val docs = Tables.documents(s, d)
      Dedup.saveBandIndex(Dedup.buildBandIndex(
        docs.filter(pmod(col("doc_id"), lit(3L)) === 1),
        reproducible = true), s"$dir/idx")
      Dedup.appendBandIndex(s, s"$dir/idx",
        docs.filter(pmod(col("doc_id"), lit(3L)) === 2
          && pmod(col("doc_id"), lit(2L)) === 0))
      Dedup.appendBandIndex(s, s"$dir/idx",
        docs.filter(pmod(col("doc_id"), lit(3L)) === 2
          && pmod(col("doc_id"), lit(2L)) === 1))
      Dedup.screenAgainstIndex(
          docs.filter(pmod(col("doc_id"), lit(3L)) === 0),
          Dedup.loadBandIndex(s, s"$dir/idx"))
        .filter(col("est_jaccard") >= 0.5)
        .orderBy("doc_in", "doc_corpus").limit(1000)
    }),
    // band-index SNAPSHOT COMPACTION — the maintenance op a long
    // append chain needs (one batch=<n>/ dir per append → listing
    // overhead and census width grow with batch count): build ⅓ →
    // save (v=1) → append ⅙ → SNAPSHOT (folds the chain into batch 0
    // of v=2, _LATEST flipped) → append ⅙ (lands in v=2) → load →
    // screen. Pinned to the IDENTICAL oracle as d29/io16/io17/io18,
    // so versioning + snapshot + post-snapshot appends must compose
    // bit-faithfully with a fresh full build
    "io19_band_index_snapshot" -> q((s, d) =>
      withTempDir("graft_io19") { dir =>
        val docs = Tables.documents(s, d)
        Dedup.saveBandIndex(Dedup.buildBandIndex(
          docs.filter(pmod(col("doc_id"), lit(3L)) === 1),
          reproducible = true), s"$dir/idx")
        Dedup.appendBandIndex(s, s"$dir/idx",
          docs.filter(pmod(col("doc_id"), lit(3L)) === 2
            && pmod(col("doc_id"), lit(2L)) === 0))
        Dedup.snapshotBandIndex(s, s"$dir/idx")
        Dedup.appendBandIndex(s, s"$dir/idx",
          docs.filter(pmod(col("doc_id"), lit(3L)) === 2
            && pmod(col("doc_id"), lit(2L)) === 1))
        Dedup.screenAgainstIndex(
            docs.filter(pmod(col("doc_id"), lit(3L)) === 0),
            Dedup.loadBandIndex(s, s"$dir/idx"))
          .filter(col("est_jaccard") >= 0.5)
          .orderBy("doc_in", "doc_corpus").limit(1000)
      }),
    "io17_band_index_compact" -> q((s, d) => withTempDir("graft_io17") { dir =>
      val docs = Tables.documents(s, d)
      val idx0 = Dedup.buildBandIndex(
        docs.filter(pmod(col("doc_id"), lit(3L)) === 1), reproducible = true)
      Dedup.saveBandIndex(idx0, s"$dir/idx0")
      val compacted = Dedup.compactBandIndex(
        Dedup.loadBandIndex(s, s"$dir/idx0"),
        docs.filter(pmod(col("doc_id"), lit(3L)) === 2))
      Dedup.saveBandIndex(compacted, s"$dir/idx1")
      Dedup.screenAgainstIndex(
          docs.filter(pmod(col("doc_id"), lit(3L)) === 0),
          Dedup.loadBandIndex(s, s"$dir/idx1"))
        .filter(col("est_jaccard") >= 0.5)
        .orderBy("doc_in", "doc_corpus").limit(1000)
    }),
    // one manifest entry per (source, lang) slice — per-FILE metadata,
    // bounded by construction — appended through Manifest.append (JSON
    // escaping), read back through Manifest.read, and rolled up; the
    // oracle recomputes every number straight from `documents`, so a
    // parse/escape/error-count defect in the manifest codec fails the
    // hash
    "io13_manifest_check" -> q((s, d) => withTempDir("graft_io13") { dir =>
      val slices = Tables.documents(s, d)
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("bytes"))
        .orderBy("source", "lang")
        .collect() // |sources|×|langs| rows — manifest-sized metadata
      val path = s"$dir/manifest.jsonl"
      slices.foreach { r =>
        graft.sources.Manifest.append(path, graft.sources.Manifest.Entry(
          url = s"""https://example.test/${r.getString(0)}/${r.getString(1)}.parquet""",
          yearMonth = f"2024-${r.getLong(2) % 12 + 1}%02d",
          cabType = r.getString(0),
          downloaded = r.getLong(2) % 2 == 0,
          sizeBytes = r.getLong(3),
          error = if (r.getLong(2) % 3 == 0)
            Some("HTTP 500 \"server\\error\" after 3 retries") else None,
          rows = Some(r.getLong(2))))
      }
      val entries = graft.sources.Manifest.read(path)
      val errorCount = graft.sources.Manifest.errorCount(path)
      import s.implicits._
      entries.map(e => (e.cabType, e.downloaded, e.sizeBytes,
          e.rows.getOrElse(-1L), e.error.isDefined))
        .toDF("source", "downloaded", "size_bytes", "n_docs", "has_error")
        .groupBy("source")
        .agg(count(lit(1)).as("n_files"),
          sum(when(col("downloaded"), 1L).otherwise(0L)).as("n_downloaded"),
          sum("size_bytes").as("total_bytes"),
          sum("n_docs").as("total_docs"),
          sum(when(col("has_error"), 1L).otherwise(0L)).as("n_errors"))
        .withColumn("manifest_error_count", lit(errorCount.toLong))
        .orderBy("source")
    }),
    // Box-Jenkins cross-correlation: does click volume lead purchase
    // volume? lags −3..+3 over the aligned daily-count tier
    "w34_lead_lag_corr" -> q((s, d) =>
      graft.operators.Forecast.crossCorrelation(Tables.events(s, d),
        "ts", "event_type", typeX = "click", typeY = "purchase", maxLag = 3)),
    // time-to-convert per consecutive funnel step (exact median/p90
    // minutes from microsecond-exact latencies)
    "f2_funnel_latency" -> q((s, d) =>
      graft.operators.Funnel.stepLatency(Tables.events(s, d),
        "user_id", "ts", "event_type", Seq("signup", "click", "purchase"))),
    // calendar-aligned MoM/YoY growth over 80 months of order revenue
    "w35_period_growth" -> q((s, d) =>
      graft.operators.Forecast.periodOverPeriod(
        Tables.orders(s, d), "o_orderdate", "o_totalprice")),
    // approximate-FD mining over (lang, source, length band): all 6
    // ordered pairs' confidences from one melt + self-join pass
    "dq5_approx_fds" -> q((s, d) =>
      graft.operators.Quality.approxFds(
        Tables.documents(s, d)
          .withColumn("band", floor(col("n_chars") / 500)),
        "doc_id", Seq("lang", "source", "band"))),
    // "bought X also bought Y": per-item top-3 neighbors by basket
    // cosine, rounded before ranking so the cut is engine-independent
    "mb3_item_item_cf" -> q((s, d) =>
      graft.operators.MarketBasket.itemItemTopK(
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), (col("l_partkey") % 40).as("item")),
        "l_orderkey", "item", k = 3)),
    // Neyman budget split across sources by N_h·sigma_h over n_chars
    "tp13_neyman_allocation" -> q((s, d) =>
      graft.pipeline.TrainingData.neymanAllocation(
        Tables.documents(s, d), "source", "n_chars", sampleN = 1000)),
    // leave-one-source-out ablation of mean document length — the
    // whole sweep from ONE grouped aggregation, never |groups| passes
    "tp14_loo_source_influence" -> q((s, d) =>
      graft.pipeline.TrainingData.looGroupInfluence(
        Tables.documents(s, d), "source", "n_chars")),
    // chance-corrected label agreement over the t5 confusion tier
    "t27_langid_kappa" -> q((s, d) =>
      TextAnalysis.langIdKappa(Tables.documents(s, d))),
    // 4-truss peeling, 3 rounds, on a dense derived graph; census =
    // surviving support histogram (engine runs hub-safe oriented
    // wedges; oracle replays the naive adjacency join — same numbers)
    "g18_ktruss" -> q((s, d) =>
      graft.graph.Ktruss.trussHistogram(
        Tables.orders(s, d).select(
          pmod(col("o_custkey"), lit(150L)).as("src"),
          pmod(col("o_orderkey"), lit(149L)).as("dst")),
        k = 4, rounds = 3))
  )

  private val stop = "('the','a','an','of','and','or','to','in','is','it')"
  private val toks = "list_filter(string_split(text, ' '), x -> len(x) > 0)"

  /** Shared by `d8_dup_components` (min-label propagation) and
    * `d21_components_star` (large-star/small-star contraction): both
    * algorithms must land on the identical component census, so they
    * pin against the identical recursive-CTE oracle. */
  /** g7's oracle: `rounds` unrolled peel rounds (k-core by iterative
    * deletion) — each round keeps vertices whose surviving degree is
    * ≥ k, then edges with both endpoints kept; mirrors
    * [[graft.graph.Kcore.degreeHistogram]] round for round. */
  private def kcoreSql(ks: Seq[Int], rounds: Int): String = {
    // MATERIALIZED is load-bearing: DuckDB inlines plain CTEs at every
    // reference, and e_i references e_{i-1} three times, so the
    // unrolled chain would expand e0 3^rounds times (observed as "too
    // many open files" on the orders view at rounds = 6)
    def chain(p: String, k: Int) = (1 to rounds).map { i =>
      s"""${p}k$i AS MATERIALIZED (SELECT v FROM
             (SELECT a AS v FROM ${p}e${i - 1}
              UNION ALL SELECT b FROM ${p}e${i - 1})
           GROUP BY v HAVING count(*) >= $k),
         ${p}e$i AS MATERIALIZED (SELECT a, b FROM ${p}e${i - 1}
           WHERE a IN (SELECT v FROM ${p}k$i)
             AND b IN (SELECT v FROM ${p}k$i))"""
    }.mkString(",\n")
    val parts = ks.map { k =>
      val p = s"p${k}_"
      s"""${p}e0 AS MATERIALIZED (SELECT a, b FROM base),
         ${chain(p, k)},
         ${p}h AS (SELECT $k AS k, deg, count(*) AS n_vertices FROM
           (SELECT v, count(*) AS deg FROM
             (SELECT a AS v FROM ${p}e$rounds
              UNION ALL SELECT b FROM ${p}e$rounds) GROUP BY v)
           GROUP BY deg)"""
    }.mkString(",\n")
    val union = ks.map(k => s"SELECT k, deg, n_vertices FROM p${k}_h")
      .mkString(" UNION ALL ")
    s"""WITH base AS MATERIALIZED (
           SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
           FROM (SELECT o_custkey % 3000 AS s, o_orderkey % 2999 AS d
                 FROM orders) WHERE s <> d),
       $parts
       SELECT * FROM ($union) ORDER BY k, deg"""
  }

  private lazy val dupComponentsSql =
    s"""WITH RECURSIVE sh AS (SELECT doc_id, source,
         list_distinct(CASE WHEN len($toks) >= 3
           THEN list_transform(range(0, len($toks) - 2),
                  i -> array_to_string(($toks)[i+1:i+3], ' '))
           ELSE [array_to_string($toks, ' ')] END) AS s
         FROM documents),
       near AS (SELECT a.doc_id AS a, b.doc_id AS b
         FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
         WHERE round(len(list_intersect(a.s, b.s))::DOUBLE /
           len(list_distinct(list_concat(a.s, b.s))), 6) >= 0.5),
       reps AS (SELECT text, min(doc_id) AS rep FROM documents GROUP BY text),
       exact AS (SELECT d.doc_id AS a, r.rep AS b
         FROM documents d JOIN reps r ON d.text = r.text WHERE d.doc_id != r.rep),
       e AS (SELECT a, b FROM exact UNION ALL SELECT a, b FROM near
             UNION ALL SELECT b, a FROM exact UNION ALL SELECT b, a FROM near),
       reach(src, node) AS (
         SELECT doc_id, doc_id FROM documents
         UNION
         SELECT r.src, e.b FROM reach r JOIN e ON e.a = r.node),
       lab AS (SELECT node, min(src) AS component FROM reach GROUP BY node)
       SELECT component, count(*) AS n_docs FROM lab GROUP BY 1 ORDER BY component"""

  /** The bpe1/bpe2 oracle's shared CTE chain: `n` unrolled BPE rounds
    * over the word-frequency table, mirroring [[graft.text.Bpe]] exactly
    * — same double-space symbol-boundary word state (each symbol owns
    * its delimiters, so run merges reproduce classical BPE — see
    * [[graft.text.Bpe]] scaladoc), same `replace()` left-to-right
    * non-overlapping merge, same `(count desc, pair asc)` tie-break.
    * `MATERIALIZED` is load-bearing: each round is referenced by both
    * the next round's pair count and the next word state; inlined CTEs
    * would re-expand the chain exponentially (2^n parquet scans). */
  private def bpeRoundsSql(n: Int): String = {
    val base =
      s"""wc AS MATERIALIZED (SELECT tok AS word, count(*) AS freq FROM
           (SELECT unnest($toks) AS tok FROM documents) GROUP BY 1),
         w0 AS MATERIALIZED (SELECT word, freq,
           ' ' || array_to_string(string_split(word, ''), '  ') || ' ' AS s
           FROM wc)"""
    val rounds = (1 to n).map { r =>
      s"""p$r AS (SELECT pr, sum(freq) AS cnt FROM (
             SELECT freq, unnest(CASE WHEN len(a) >= 2 THEN
               list_transform(range(1, len(a)), i -> a[i] || ' ' || a[i+1])
               ELSE [] END) AS pr
             FROM (SELECT freq, list_filter(string_split(s, ' '),
               x -> len(x) > 0) AS a FROM w${r - 1})) GROUP BY 1),
         b$r AS MATERIALIZED (SELECT pr, cnt FROM p$r
           ORDER BY cnt DESC, pr LIMIT 1),
         w$r AS MATERIALIZED (SELECT word, freq,
           replace(s, ' ' || replace((SELECT pr FROM b$r), ' ', '  ') || ' ',
                   ' ' || replace((SELECT pr FROM b$r), ' ', '') || ' ') AS s
           FROM w${r - 1})"""
    }
    (base +: rounds).mkString(",\n         ")
  }

  /** Full SQL replay of [[graft.text.UnigramTokenizer.train]] — seed,
    * `rounds` hard-EM Viterbi rounds, count-rank pruning — as one CTE
    * chain. The Viterbi DP and its backtrack are UNROLLED one CTE per
    * word position (the `maxWordLen` cap is what makes that static),
    * with the same padded `(end,len)` score-grid indexing, the same
    * `(total, len)`-struct argmax tie-break (`list_max`), and the same
    * fixed-point `floor(2^20·ln((cnt+1)/(T+|V|)))` scores, so every DP
    * comparison and the corpus likelihood are exact integer arithmetic
    * in both engines. Invalid grid slots carry a −2^40 sentinel score
    * (any candidate touching one loses to every real segmentation;
    * single-char coverage guarantees a real one exists), mirroring the
    * engine's null-filtered candidates. MATERIALIZED is load-bearing
    * exactly as in [[bpeRoundsSql]]. */
  /** The unrolled Viterbi DP + backtrack CTE block shared by the
    * training rounds and the cross-corpus encode pass: `dpP_0..W`
    * build the per-position (total, backlen) lists over a garr-shaped
    * CTE (word, freq, n, scs), `bkP_1..W` walk the backpointers into
    * the piece list (END → START), and `bkP_out` reverses it into
    * reading order — the engine's `reverse(ps)` mirror. */
  private def viterbiDpSql(dpP: String, bkP: String, garrCte: String,
                           W: Int, L: Int): String = {
    val dpLayers = (1 to W).map { i =>
      val cands = (1 to math.min(L, i)).map { l =>
        s"struct_pack(t := dps[${i - l + 1}] + scs[${(i - 1) * L + l}], bl := $l)"
      }.mkString(", ")
      s"""${dpP}_$i AS (SELECT word, freq, n, scs,
           list_append(dps, CASE WHEN $i <= n THEN b.t END) AS dps,
           list_append(bls, CASE WHEN $i <= n THEN b.bl ELSE 0 END) AS bls
         FROM (SELECT *, list_max([$cands]) AS b FROM ${dpP}_${i - 1}))"""
    }.mkString(",\n         ")
    val backLayers = (1 to W).map { k =>
      s"""${bkP}_$k AS (SELECT word, freq, n, dps, bls,
           CASE WHEN pos > 0 THEN pos - bls[pos + 1] ELSE pos END AS pos,
           CASE WHEN pos > 0 THEN list_append(pieces,
             substr(word, pos - bls[pos + 1] + 1, bls[pos + 1]))
             ELSE pieces END AS pieces
         FROM ${bkP}_${k - 1})"""
    }.mkString(",\n         ")
    s"""${dpP}_0 AS (SELECT word, freq, n, scs,
         [CAST(0 AS BIGINT)] AS dps, [0] AS bls FROM $garrCte),
       $dpLayers,
       ${bkP}_0 AS (SELECT word, freq, n, dps, bls, n AS pos,
         CAST([] AS VARCHAR[]) AS pieces FROM ${dpP}_$W),
       $backLayers,
       ${bkP}_out AS (SELECT word, freq, n, dps, bls,
         list_reverse(pieces) AS pieces FROM ${bkP}_$W)"""
  }

  private def unigramRoundsSql(rounds: Int = 3, maxPieceLen: Int = 4,
                               maxWordLen: Int = 16,
                               seedMultis: Int = 256): String = {
    val L = maxPieceLen
    val W = maxWordLen
    val SENT = "-1099511627776" // -2^40
    val base =
      s"""uw AS MATERIALIZED (SELECT word, freq, CAST(len(word) AS INT) AS n
           FROM (SELECT tok AS word, count(*) AS freq FROM
             (SELECT unnest($toks) AS tok FROM documents) GROUP BY 1)
           WHERE len(word) BETWEEN 1 AND $W),
         useed AS MATERIALIZED (SELECT piece, sum(freq) AS cnt FROM
           (SELECT substr(word, i, l) AS piece, freq
            FROM uw, range(1, ${W + 1}) t1(i), range(1, ${L + 1}) t2(l)
            WHERE i <= n AND i + l - 1 <= n) GROUP BY 1),
         uv0 AS MATERIALIZED (
           SELECT piece, cnt FROM useed WHERE len(piece) = 1
           UNION ALL
           SELECT piece, cnt FROM (SELECT piece, cnt FROM useed
             WHERE len(piece) > 1 ORDER BY cnt DESC, piece
             LIMIT $seedMultis)),
         ugrid AS MATERIALIZED (SELECT word, freq, n, i, l,
             CASE WHEN l <= i AND i <= n
                  THEN substr(word, i - l + 1, l) END AS piece
           FROM uw, range(1, ${W + 1}) t1(i), range(1, ${L + 1}) t2(l))"""
    var keep = seedMultis
    val roundCtes = (1 to rounds).map { r =>
      val p = r - 1
      val dpLayers = viterbiDpSql(s"ud$r", s"ub$r", s"ug$r", W, L)
      val pruneSel =
        if (r < rounds) {
          keep = keep * 3 / 4
          s"""SELECT piece, cnt FROM ur$r WHERE len(piece) = 1
             UNION ALL
             SELECT piece, cnt FROM (SELECT piece, cnt FROM ur$r
               WHERE len(piece) > 1 ORDER BY cnt DESC, piece LIMIT $keep)"""
        } else s"SELECT piece, cnt FROM ur$r"
      s"""us$r AS MATERIALIZED (SELECT piece,
           CAST(floor(ln((cnt + 1) / (tot + vsz)) * 1048576) AS BIGINT) AS sc
           FROM uv$p, (SELECT sum(cnt)::DOUBLE AS tot,
             count(*)::DOUBLE AS vsz FROM uv$p)),
         ug$r AS MATERIALIZED (SELECT g.word, any_value(g.freq) AS freq,
             any_value(g.n) AS n,
             list(coalesce(s.sc, $SENT) ORDER BY g.i, g.l) AS scs
           FROM ugrid g LEFT JOIN us$r s ON s.piece = g.piece
           GROUP BY g.word),
         $dpLayers,
         uc$r AS MATERIALIZED (SELECT piece, sum(freq) AS cnt FROM
           (SELECT freq, unnest(pieces) AS piece FROM ub${r}_out) GROUP BY 1),
         ur$r AS MATERIALIZED (SELECT v.piece, coalesce(c.cnt, 0) AS cnt
           FROM uv$p v LEFT JOIN uc$r c USING (piece)),
         uv$r AS MATERIALIZED ($pruneSel)"""
    }
    (base +: roundCtes).mkString(",\n         ")
  }

  /** The bpe1/bpe6 shared oracle: the 10-round merge table itself —
    * one row per round from the unrolled CTE chain. Shared because the
    * distributed (bpe1) and driver-local (bpe6) training tiers carry
    * the bit-identical-merge-table contract. */
  private lazy val bpeMergeTableSql: String =
    s"""WITH ${bpeRoundsSql(10)}
       SELECT * FROM (${(1 to 10).map(r =>
         s"SELECT $r AS step, pr AS pair, replace(pr, ' ', '') AS merged, CAST(cnt AS BIGINT) AS pair_count FROM b$r")
         .mkString(" UNION ALL ")}) ORDER BY step"""

  /** The bpe3/bpe5 shared oracle: 10 training rounds over `documents`
    * (bpeRoundsSql), then the learned merges replayed over the
    * part-name word table — bpe5 runs the identical computation through
    * a SAVED-then-RELOADED merge table, so persistence must be
    * bit-faithful to pass the same pin. */
  private lazy val bpeCrossEncodeSql: String =
    s"""WITH ${bpeRoundsSql(10)},
         pe0 AS (SELECT word, freq,
           ' ' || array_to_string(string_split(word, ''), '  ') || ' ' AS s
           FROM (SELECT tok AS word, count(*) AS freq FROM
             (SELECT unnest(list_filter(string_split(p_name, ' '),
                x -> len(x) > 0)) AS tok FROM part) GROUP BY 1)),
         ${(1 to 10).map(r =>
           s"""pe$r AS (SELECT word, freq,
             replace(s, ' ' || replace((SELECT pr FROM b$r), ' ', '  ') || ' ',
                     ' ' || replace((SELECT pr FROM b$r), ' ', '') || ' ') AS s
             FROM pe${r - 1})""").mkString(",\n         ")}
         SELECT symbol, CAST(cnt AS BIGINT) AS cnt FROM (
           SELECT symbol, sum(freq) AS cnt FROM (
             SELECT freq, unnest(list_filter(string_split(s, ' '),
               x -> len(x) > 0)) AS symbol FROM pe10) GROUP BY 1)
         ORDER BY cnt DESC, symbol LIMIT 20"""

  /** The t29/t30 fixture: a synthesized crawl page per document row —
    * script with raw `<`/`&&`, style, comment, per-source title,
    * unique h1 + body, corpus-repeated lang/entity chrome. Mirrors the
    * `h` CTE of [[htmlExtractSqlChain]] exactly. */
  private def synthesizedCrawlPage: org.apache.spark.sql.Column = concat(
    lit("<html><head><title>"), col("source"),
    lit("</title><script type=\"text/javascript\">var x = 1 < 2 && y > 0;" +
      "</script><style>p { color: red; }</style></head>" +
      "<body><!-- hidden comment --><h1>Doc "),
    col("doc_id").cast("string"),
    lit("</h1><p>"), col("text"),
    lit("</p><ul><li>lang: "), col("lang"),
    lit("</li><li>A &amp; B &lt;tag&gt; &amp;lt;raw&amp;gt;</li></ul>" +
      "</body></html>"))

  /** The t29/t30 shared CTE chain: per-document synthesized crawl page
    * (`h`) pushed through the FROZEN HtmlExtract regex chain to trimmed
    * non-empty blocks (`b`) and the newline-joined text (`j.txt`). */
  private lazy val htmlExtractSqlChain: String =
    s"""h AS (SELECT doc_id,
           '<html><head><title>' || source ||
           '</title><script type="text/javascript">var x = 1 < 2 && y > 0;' ||
           '</script><style>p { color: red; }</style></head>' ||
           '<body><!-- hidden comment --><h1>Doc ' || doc_id ||
           '</h1><p>' || text || '</p><ul><li>lang: ' || lang ||
           '</li><li>A &amp; B &lt;tag&gt; &amp;lt;raw&amp;gt;</li></ul>' ||
           '</body></html>' AS html
           FROM documents),
         s1 AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(regexp_replace(html,
             '(?is)<script\\b[^>]*>.*?</script\\s*>', '', 'g'),
             '(?is)<style\\b[^>]*>.*?</style\\s*>', '', 'g'),
             '(?s)<!--.*?-->', '', 'g'),
             '\\s+', ' ', 'g'),
             '(?i)</?(?:p|div|h[1-6]|li|ul|ol|dl|dt|dd|tr|td|th|thead|tbody|table|br|hr|blockquote|pre|section|article|header|footer|nav|aside|form|figure|figcaption|main|title)\\b[^>]*>',
             chr(10), 'g') AS t
           FROM h),
         s2 AS (SELECT doc_id,
           regexp_replace(t, '(?s)<[^>]*>', '', 'g') AS t FROM s1),
         s3 AS (SELECT doc_id, replace(replace(replace(replace(replace(
           replace(replace(t, '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
           '&#39;', ''''), '&apos;', ''''), '&nbsp;', ' '), '&amp;', '&')
           AS t FROM s2),
         b AS (SELECT doc_id,
           list_filter(list_transform(string_split(t, chr(10)),
             x -> trim(regexp_replace(x, '\\s+', ' ', 'g'))),
             x -> len(x) > 0) AS blocks
           FROM s3),
         j AS (SELECT doc_id, blocks,
           array_to_string(blocks, chr(10)) AS txt FROM b)"""

  /** The ug4 oracle: full unigram training replay over `documents`
    * (unigramRoundsSql), then Viterbi INFERENCE over the orders-comment
    * word table under the final vocabulary with the UNK floor — the
    * engine side runs the identical computation through a
    * SAVED-then-RELOADED model, and the pinned `seg` string makes the
    * pieces' READING ORDER part of the contract. */
  private lazy val unigramRoundtripSql: String =
    s"""WITH ${unigramRoundsSql()},
         usf AS MATERIALIZED (SELECT piece,
           CAST(floor(ln((cnt + 1) / (tot + vsz)) * 1048576) AS BIGINT) AS sc
           FROM uv3, (SELECT sum(cnt)::DOUBLE AS tot,
             count(*)::DOUBLE AS vsz FROM uv3)),
         uunk AS (SELECT
           CAST(floor(ln(1.0 / (tot + vsz)) * 1048576) AS BIGINT) AS unk
           FROM (SELECT sum(cnt)::DOUBLE AS tot,
             count(*)::DOUBLE AS vsz FROM uv3)),
         ow AS MATERIALIZED (SELECT word, freq, CAST(len(word) AS INT) AS n
           FROM (SELECT tok AS word, count(*) AS freq FROM
             (SELECT unnest(list_filter(string_split(
                p_name || ' ' || p_brand || ' ' || p_type, ' '),
                x -> len(x) > 0)) AS tok FROM part) GROUP BY 1)
           WHERE len(word) BETWEEN 1 AND 16),
         ogrid AS MATERIALIZED (SELECT word, freq, n, i, l,
             CASE WHEN l <= i AND i <= n
                  THEN substr(word, i - l + 1, l) END AS piece
           FROM ow, range(1, 17) t1(i), range(1, 5) t2(l)),
         og AS MATERIALIZED (SELECT g.word, any_value(g.freq) AS freq,
             any_value(g.n) AS n,
             list(CASE WHEN g.l = 1 AND g.piece IS NOT NULL
                  THEN coalesce(s.sc, (SELECT unk FROM uunk))
                  ELSE coalesce(s.sc, -1099511627776) END
               ORDER BY g.i, g.l) AS scs
           FROM ogrid g LEFT JOIN usf s ON s.piece = g.piece
           GROUP BY g.word),
         ${viterbiDpSql("od", "ob", "og", 16, 4)}
         SELECT word, CAST(len(pieces) AS BIGINT) AS n_pieces,
           array_to_string(pieces, ' ') AS seg, dps[n + 1] AS ll_fp
         FROM ob_out ORDER BY word LIMIT 500"""

  /** FROZEN minhash permutation constants `(j, a, b)` — the d3/d9 oracles
    * pin these literals rather than calling
    * `HashExpressions.perm(j)` at oracle-build time, so a bug in the
    * engine's `perm` derivation can no longer mirror itself into the
    * oracle invisibly. `HashExpressionsSpec` asserts `perm(j)` still
    * produces exactly this table; if the engine constants ever drift,
    * that spec (and the d3 gate) fail loudly instead of silently
    * re-pinning. */
  private[graft] val frozenPerms: Seq[(Int, Long, Long)] = Seq(
    (0, 163283986L, 599261665L), (1, 894950490L, 798416384L),
    (2, 1234311778L, 1286703461L), (3, 1204144324L, 835965923L),
    (4, 1591944210L, 934522291L), (5, 496203189L, 1079763666L),
    (6, 2013059713L, 763241338L), (7, 746696472L, 1670600315L),
    (8, 2037706278L, 1456254455L), (9, 516379148L, 1266701751L),
    (10, 1286444250L, 530699185L), (11, 219055890L, 2128274514L),
    (12, 1772079176L, 818901099L), (13, 80209275L, 1149784844L),
    (14, 1467146236L, 1735514601L), (15, 1203512295L, 1926977025L),
    (16, 388782684L, 534172481L), (17, 200570785L, 2078724062L),
    (18, 1304827311L, 2103803232L), (19, 332159529L, 201429023L),
    (20, 1473283524L, 2092569640L), (21, 45072279L, 2068864278L),
    (22, 31963117L, 1182366910L), (23, 659079707L, 1911013943L),
    (24, 522913559L, 1194348314L), (25, 934817184L, 86284078L),
    (26, 1493243116L, 868736356L), (27, 1645819368L, 435216821L),
    (28, 853803872L, 331112215L), (29, 1096496025L, 1272982335L),
    (30, 1274128037L, 2103828645L), (31, 1275158464L, 1296052558L),
    (32, 849526002L, 1546027064L), (33, 1915924980L, 1963378267L),
    (34, 232454059L, 419849167L), (35, 676603111L, 625827947L),
    (36, 928317676L, 90987604L), (37, 1624604410L, 1035515163L),
    (38, 1054936882L, 1560969530L), (39, 309330196L, 1634664623L),
    (40, 42903836L, 1358305000L), (41, 150569540L, 1224228600L),
    (42, 218095997L, 1801611204L), (43, 1338672062L, 671157322L),
    (44, 1692438929L, 963027102L), (45, 1517017084L, 116331389L),
    (46, 1412931510L, 2110630082L), (47, 2002925590L, 612410542L),
    (48, 1779782007L, 1989166832L), (49, 1882834961L, 1713136369L),
    (50, 1275721061L, 534497003L), (51, 848934912L, 587829961L),
    (52, 262816073L, 941441090L), (53, 583168701L, 1616806787L),
    (54, 1723249811L, 1684086747L), (55, 906268517L, 182186222L),
    (56, 1068860728L, 423243344L), (57, 1706090348L, 2126124163L),
    (58, 1166561870L, 954863350L), (59, 506852712L, 915470398L),
    (60, 1373239334L, 1643822982L), (61, 38466389L, 1943661824L),
    (62, 557655106L, 1957733589L), (63, 1855394319L, 1464982281L))

  private val permValues: String =
    frozenPerms.map { case (j, a, b) => s"($j, $a, $b)" }.mkString(", ")

  /** FNV-1a/32 fold over a string's characters (DuckDB lambda) — the
    * SQL mirror of the engine's reproducible-mode shingle/token hash
    * (byte-wise UTF-8, which equals this per-character fold on the
    * all-ASCII gate corpus). */
  /** The PageRank recurrence as unrolled DuckDB CTE layers — one
    * (dangling, contribution, rank) triple per iteration, mirroring
    * [[graft.graph.PageRank.pagerank]] operation for operation so both
    * engines walk the identical float recurrence. Every rank layer is
    * MATERIALIZED: DuckDB inlines plain CTEs, and r_i is referenced
    * twice per following layer — inlining would blow the query up
    * 2^iters (measured: the plain form never finishes at 10 layers). */
  private def pagerankSql(srcExpr: String, dstExpr: String,
                          iters: Int): String = {
    val base =
      s"""e AS MATERIALIZED (SELECT $srcExpr AS src, $dstExpr AS dst,
           count(*) AS w FROM orders GROUP BY 1,2),
         ow AS MATERIALIZED (SELECT src, sum(w) AS out_w FROM e GROUP BY 1),
         ne AS MATERIALIZED (SELECT src, dst, w::DOUBLE / out_w AS p
           FROM e JOIN ow USING (src)),
         nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
         nn AS MATERIALIZED (SELECT count(*)::DOUBLE AS n FROM nodes),
         r0 AS MATERIALIZED (SELECT node, (SELECT 1.0/n FROM nn) AS rank
           FROM nodes)"""
    val iterCtes = (1 to iters).map { i =>
      val prev = s"r${i - 1}"
      s"""d$i AS MATERIALIZED (SELECT COALESCE(sum(r.rank), 0) AS dm FROM $prev r
           WHERE r.node NOT IN (SELECT src FROM ow)),
         c$i AS MATERIALIZED (SELECT dst AS node, sum(p * r.rank) AS in_rank
           FROM ne JOIN $prev r ON ne.src = r.node GROUP BY 1),
         r$i AS MATERIALIZED (SELECT nodes.node,
           (SELECT (1 - 0.85)/n FROM nn) + 0.85 * (COALESCE(c$i.in_rank, 0)
             + (SELECT dm FROM d$i) / (SELECT n FROM nn)) AS rank
           FROM nodes LEFT JOIN c$i ON nodes.node = c$i.node)"""
    }.mkString(",\n         ")
    s"""WITH $base,
         $iterCtes
         SELECT node, round(rank, 6) AS rank FROM r$iters ORDER BY node"""
  }

  /** [[graft.ml.Stump.boostedSplits]] (2 rounds, the ml13 fixture) as
    * unrolled DuckDB CTEs: each round = one weighted histogram + rank-1
    * winner; between rounds the winner predicts (maj_l/maj_r by side)
    * and misses double their integer weight. All-integer statistics —
    * only the final gains are floats. */
  private def boostedStumpSql: String = {
    // (name, lo, width, bins) — widths are the IDENTICAL doubles the
    // Scala Feature computes ((hi-lo)/bins; 0.1/10 == 0.01 bitwise)
    val feats = Seq(
      ("l_quantity", "0.0", "2.0", 25),
      ("l_discount", "0.0", "0.01", 10),
      ("l_extendedprice", "0.0", "5000.0", 20))
    def hist(n: Int) = {
      val branches = feats.map { case (nm, lo, w, bins) =>
        s"""SELECT '$nm' AS feature,
             CAST(least(greatest(floor(($nm - $lo) / $w), 0), ${bins - 1})
               AS BIGINT) AS bin, y, w FROM rows$n"""
      }.mkString("\n           UNION ALL ")
      val thrCase = feats.map { case (nm, lo, w, _) =>
        s"WHEN '$nm' THEN $lo + (bin + 1) * $w"
      }.mkString(" ")
      s"""h$n AS (SELECT feature, bin, CAST(sum(w) AS BIGINT) AS n,
           CAST(sum(w * y) AS BIGINT) AS pos FROM (
           $branches) GROUP BY 1, 2),
         c$n AS (SELECT *,
           sum(n) OVER (PARTITION BY feature ORDER BY bin) AS nl,
           sum(pos) OVER (PARTITION BY feature ORDER BY bin) AS posl,
           sum(n) OVER (PARTITION BY feature) AS ntot,
           sum(pos) OVER (PARTITION BY feature) AS postot
           FROM h$n),
         g$n AS (SELECT feature,
           round(CASE feature $thrCase END, 6) AS threshold,
           CAST(nl AS BIGINT) AS w_left, CAST(ntot - nl AS BIGINT) AS w_right,
           round((1.0 - (postot * 1.0 / ntot) * (postot * 1.0 / ntot)
              - (1.0 - postot * 1.0 / ntot) * (1.0 - postot * 1.0 / ntot))
           - ((nl * 1.0 / ntot) * (1.0 - (posl * 1.0 / nl) * (posl * 1.0 / nl)
                - (1.0 - posl * 1.0 / nl) * (1.0 - posl * 1.0 / nl))
              + ((ntot - nl) * 1.0 / ntot)
                * (1.0 - ((postot - posl) * 1.0 / (ntot - nl))
                     * ((postot - posl) * 1.0 / (ntot - nl))
                   - (1.0 - (postot - posl) * 1.0 / (ntot - nl))
                     * (1.0 - (postot - posl) * 1.0 / (ntot - nl)))), 6)
             AS gain,
           CASE WHEN posl * 2 > nl THEN 1 ELSE 0 END AS maj_l,
           CASE WHEN (postot - posl) * 2 > ntot - nl THEN 1 ELSE 0 END AS maj_r
           FROM c$n WHERE nl > 0 AND ntot - nl > 0),
         w$n AS (SELECT * FROM (SELECT *, row_number() OVER (
             ORDER BY gain DESC, feature, threshold) AS rk FROM g$n)
           WHERE rk = 1)"""
    }
    val featValCase = feats.map { case (nm, _, _, _) =>
      s"WHEN '$nm' THEN r.$nm" }.mkString(" ")
    s"""WITH rows1 AS (SELECT l_quantity, l_discount, l_extendedprice,
           CASE WHEN l_quantity + l_discount * 20.0 > 28.0 THEN 1 ELSE 0 END AS y,
           1 AS w FROM lineitem),
         ${hist(1)},
         rows2 AS (SELECT r.l_quantity, r.l_discount, r.l_extendedprice, r.y,
           CASE WHEN (CASE WHEN (CASE w1.feature $featValCase END) <= w1.threshold
               THEN w1.maj_l ELSE w1.maj_r END) <> r.y
             THEN 2 ELSE 1 END AS w
           FROM rows1 r CROSS JOIN w1),
         ${hist(2)}
         SELECT 1 AS round, feature, threshold, w_left, w_right, gain FROM w1
         UNION ALL
         SELECT 2 AS round, feature, threshold, w_left, w_right, gain FROM w2
         ORDER BY round"""
  }

  /** [[graft.graph.Sssp.boundedSssp]] as unrolled DuckDB CTEs: one
    * `min(dist) over (prev ∪ relaxed)` layer per round — exact integer
    * arithmetic end to end, so the pin is bit-exact. */
  private def ssspSql(srcExpr: String, dstExpr: String, wExpr: String,
                      nSeeds: Int, rounds: Int): String = {
    val base =
      s"""e AS MATERIALIZED (SELECT $srcExpr AS src, $dstExpr AS dst,
           min($wExpr) AS w FROM orders GROUP BY 1,2),
         d0 AS (SELECT CAST(range AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist
           FROM range($nSeeds))"""
    val iterCtes = (1 to rounds).map { i =>
      val prev = s"d${i - 1}"
      s"""d$i AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (
           SELECT node, dist FROM $prev
           UNION ALL
           SELECT e.dst AS node, d.dist + e.w AS dist
           FROM e JOIN $prev d ON e.src = d.node) GROUP BY 1)"""
    }.mkString(",\n         ")
    s"""WITH $base,
         $iterCtes
         SELECT node, dist FROM d$rounds ORDER BY node"""
  }

  /** [[graft.graph.PageRank.personalized]] as unrolled DuckDB CTEs:
    * teleport vector uniform over `seedPred` nodes, dangling mass
    * re-entering through the same vector. */
  private def pprSql(srcExpr: String, dstExpr: String, seedPred: String,
                     iters: Int): String = {
    val base =
      s"""e AS MATERIALIZED (SELECT $srcExpr AS src, $dstExpr AS dst,
           count(*) AS w FROM orders GROUP BY 1,2),
         ow AS MATERIALIZED (SELECT src, sum(w) AS out_w FROM e GROUP BY 1),
         ne AS MATERIALIZED (SELECT src, dst, w::DOUBLE / out_w AS p
           FROM e JOIN ow USING (src)),
         nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
         ns AS MATERIALIZED (SELECT sum(CASE WHEN $seedPred THEN 1 ELSE 0 END)::DOUBLE
           AS k FROM nodes),
         tv AS MATERIALIZED (SELECT node, CASE WHEN $seedPred
           THEN 1.0 / (SELECT k FROM ns) ELSE 0.0 END AS t FROM nodes),
         r0 AS MATERIALIZED (SELECT node, t AS rank FROM tv)"""
    val iterCtes = (1 to iters).map { i =>
      val prev = s"r${i - 1}"
      s"""d$i AS MATERIALIZED (SELECT COALESCE(sum(r.rank), 0) AS dm FROM $prev r
           WHERE r.node NOT IN (SELECT src FROM ow)),
         c$i AS MATERIALIZED (SELECT dst AS node, sum(p * r.rank) AS in_rank
           FROM ne JOIN $prev r ON ne.src = r.node GROUP BY 1),
         r$i AS MATERIALIZED (SELECT tv.node,
           (1 - 0.85) * tv.t + 0.85 * (COALESCE(c$i.in_rank, 0)
             + (SELECT dm FROM d$i) * tv.t) AS rank
           FROM tv LEFT JOIN c$i ON tv.node = c$i.node)"""
    }.mkString(",\n         ")
    s"""WITH $base,
         $iterCtes
         SELECT node, round(rank, 6) AS rank FROM r$iters ORDER BY node"""
  }

  /** [[graft.graph.Hits]] as unrolled DuckDB CTE layers: one
    * `(authority raw-sum, L2 norm, normalize)` + `(hub raw-sum, L2
    * norm, normalize)` pair of layer triples per iteration. */
  private def hitsSql(srcExpr: String, dstExpr: String,
                      iters: Int): String = {
    val base =
      s"""e AS MATERIALIZED (SELECT DISTINCT $srcExpr AS src,
           $dstExpr AS dst FROM orders),
         nodes AS MATERIALIZED (SELECT src AS node FROM e
           UNION SELECT dst FROM e),
         h0 AS MATERIALIZED (SELECT node, 1.0::DOUBLE AS hub FROM nodes)"""
    val iterCtes = (1 to iters).map { i =>
      val prev = s"h${i - 1}"
      s"""ar$i AS MATERIALIZED (SELECT dst AS node, sum(h.hub) AS s
           FROM e JOIN $prev h ON e.src = h.node GROUP BY 1),
         az$i AS MATERIALIZED (SELECT sqrt(sum(s * s)) AS z FROM ar$i),
         a$i AS MATERIALIZED (SELECT nodes.node,
           COALESCE(ar.s, 0) / (SELECT z FROM az$i) AS auth
           FROM nodes LEFT JOIN ar$i ar ON nodes.node = ar.node),
         hr$i AS MATERIALIZED (SELECT src AS node, sum(a.auth) AS s
           FROM e JOIN a$i a ON e.dst = a.node GROUP BY 1),
         hz$i AS MATERIALIZED (SELECT sqrt(sum(s * s)) AS z FROM hr$i),
         h$i AS MATERIALIZED (SELECT nodes.node,
           COALESCE(hr.s, 0) / (SELECT z FROM hz$i) AS hub
           FROM nodes LEFT JOIN hr$i hr ON nodes.node = hr.node)"""
    }.mkString(",\n         ")
    s"""WITH $base,
         $iterCtes
         SELECT h.node, round(h.hub, 6) AS hub, round(a.auth, 6) AS auth
         FROM h$iters h JOIN a$iters a ON h.node = a.node ORDER BY h.node"""
  }

  /** [[graft.graph.LabelProp]] as unrolled DuckDB CTE layers: per round
    * one neighbor-label count and one `row_number()`-over-`(count DESC,
    * label ASC)` modal pick — the SQL mirror of the Spark side's
    * `min_by(label, (-count, label))`. */
  /** The shared label-propagation CTE chain (und/adj/l0 … l`rounds`),
    * used by both the g9 community-size oracle and the g15 modularity
    * oracle so the two can never replay different trajectories. */
  private def labelPropCtes(srcExpr: String, dstExpr: String,
                            rounds: Int): String = {
    val base =
      s"""und AS MATERIALIZED (SELECT DISTINCT least(s, d) AS a,
           greatest(s, d) AS b FROM
           (SELECT $srcExpr AS s, $dstExpr AS d FROM orders) WHERE s <> d),
         adj AS MATERIALIZED (SELECT a AS v, b AS u FROM und
           UNION ALL SELECT b, a FROM und),
         l0 AS MATERIALIZED (SELECT DISTINCT v, v AS label FROM adj)"""
    val iterCtes = (1 to rounds).map { i =>
      s"""c$i AS MATERIALIZED (SELECT adj.v, l.label, count(*) AS c
           FROM adj JOIN l${i - 1} l ON adj.u = l.v GROUP BY 1, 2),
         l$i AS MATERIALIZED (SELECT v, label FROM
           (SELECT v, label, row_number() OVER
             (PARTITION BY v ORDER BY c DESC, label ASC) AS rn FROM c$i)
           WHERE rn = 1)"""
    }.mkString(",\n         ")
    s"""$base,
         $iterCtes"""
  }

  private def labelPropSql(srcExpr: String, dstExpr: String,
                           rounds: Int): String =
    s"""WITH ${labelPropCtes(srcExpr, dstExpr, rounds)}
         SELECT label, count(*) AS n_members FROM l$rounds
         GROUP BY 1 ORDER BY label"""

  /** [[graft.graph.GraphStats.modularity]]: the same label-prop replay,
    * then Q = Σ_c [e_c/m − (d_c/2m)²] over integer counts. */
  private def modularitySql(srcExpr: String, dstExpr: String,
                            rounds: Int): String =
    s"""WITH ${labelPropCtes(srcExpr, dstExpr, rounds)},
         deg AS (SELECT v, count(*) AS deg FROM adj GROUP BY 1),
         mm AS (SELECT count(*)::DOUBLE AS m FROM und),
         dc AS (SELECT l.label, sum(deg.deg) AS d_c
           FROM l$rounds l JOIN deg ON l.v = deg.v GROUP BY 1),
         ec AS (SELECT la.label, count(*) AS e_c FROM und
           JOIN l$rounds la ON und.a = la.v
           JOIN l$rounds lb ON und.b = lb.v
           WHERE la.label = lb.label GROUP BY 1),
         qq AS (SELECT dc.label, COALESCE(ec.e_c, 0) AS e_c, dc.d_c
           FROM dc LEFT JOIN ec USING (label))
         SELECT count(*) AS n_communities,
           CAST((SELECT m FROM mm) AS BIGINT) AS n_edges,
           round(sum(e_c / (SELECT m FROM mm)
             - (d_c / (2 * (SELECT m FROM mm)))
               * (d_c / (2 * (SELECT m FROM mm)))), 6) AS modularity
         FROM qq"""

  /** Shared CTE body for the logreg oracles — one standardization-
    * moments CTE, then per GD round a `(sigmoid margin → mean-gradient
    * aggregate → weight update)` CTE pair; weight columns `w0..w{d-1},
    * b`. Returns `(cteBody, finalWeightCte, marginOf)` — [[logregSql]]
    * pins the model, [[logregCalibSql]] reuses the identical
    * trajectory to score rows. */
  private def logregCtes(labelExpr: String, features: Seq[String],
                         iters: Int, lr: Double, prefix: String = "",
                         where: String = "", evalWhere: String = "")
      : (String, String, String => String) = {
    val idx = features.indices
    val p = prefix
    val momCols = features.zipWithIndex.map { case (f, i) =>
      s"avg($f) AS mu$i, stddev_pop($f) AS sd$i" }.mkString(", ")
    val xCols = features.zipWithIndex.map { case (f, i) =>
      s"($f - mu$i) / sd$i AS x$i" }.mkString(", ")
    val zeroW = idx.map(i => s"0.0 AS w$i").mkString(", ") + ", 0.0 AS b"
    def marginOf(w: String): String =
      s"$w.b + " + idx.map(i => s"$w.w$i * f.x$i").mkString(" + ")
    val iterCtes = (1 to iters).map { t =>
      val prev = s"${p}wt${t - 1}"
      val gradCols = idx.map(i => s"avg((p - y) * x$i) AS g$i")
        .mkString(", ") + ", avg(p - y) AS gb"
      val updCols = idx.map(i => s"w$i - $lr * g$i AS w$i")
        .mkString(", ") + s", b - $lr * gb AS b"
      s"""${p}g$t AS MATERIALIZED (SELECT $gradCols FROM
           (SELECT f.y, ${idx.map(i => s"f.x$i").mkString(", ")},
              1.0 / (1.0 + exp(-(${marginOf(prev)}))) AS p
            FROM ${p}f f CROSS JOIN $prev $prev)),
         ${p}wt$t AS MATERIALIZED (SELECT $updCols
           FROM ${p}wt${t - 1} CROSS JOIN ${p}g$t)"""
    }.mkString(",\n         ")
    // held-out rows standardized with the TRAIN (${p}st) moments — the
    // CV protocol the Spark side implements
    val evalCte = if (evalWhere.isEmpty) "" else
      s""",
         ${p}ev AS MATERIALIZED (SELECT $labelExpr AS y, $xCols
           FROM lineitem CROSS JOIN ${p}st $evalWhere)"""
    val body =
      s"""${p}st AS MATERIALIZED (SELECT $momCols FROM lineitem $where),
         ${p}f AS MATERIALIZED (SELECT $labelExpr AS y, $xCols
           FROM lineitem CROSS JOIN ${p}st $where),
         ${p}wt0 AS (SELECT $zeroW),
         $iterCtes$evalCte"""
    (body, s"${p}wt$iters", marginOf)
  }

  /** [[graft.ml.LogReg.kfoldLogLoss]]: one full [[logregCtes]]
    * trajectory per fold (train subset + train-moments eval CTE),
    * folded into a single WITH; per-fold counts and held-out log-loss
    * UNION'd. */
  private def logregCvSql(labelExpr: String, features: Seq[String],
                          foldExpr: String, k: Int, iters: Int,
                          lr: Double): String = {
    val parts = (0 until k).map { fo =>
      logregCtes(labelExpr, features, iters, lr, prefix = s"cv$fo",
        where = s"WHERE ($foldExpr) <> $fo",
        evalWhere = s"WHERE ($foldExpr) = $fo")
    }
    val body = parts.map(_._1).mkString(",\n         ")
    val rows = parts.zipWithIndex.map { case ((_, wF, marginOf), fo) =>
      s"""SELECT $fo AS fold,
           (SELECT count(*) FROM cv${fo}f) AS n_train,
           (SELECT count(*) FROM cv${fo}ev) AS n_eval,
           (SELECT round(avg(CASE WHEN f.y = 1.0
               THEN ln(1.0 + exp(-(${marginOf(wF)})))
               ELSE ln(1.0 + exp(${marginOf(wF)})) END), 6)
            FROM cv${fo}ev f CROSS JOIN $wF $wF) AS eval_log_loss"""
    }
    s"""WITH $body
         SELECT * FROM (${rows.mkString(" UNION ALL ")}) ORDER BY fold"""
  }

  /** [[graft.ml.LogReg.fitGd]] as unrolled DuckDB CTE layers
    * ([[logregCtes]]); final log-loss from the last weights. */
  private def logregSql(labelExpr: String, features: Seq[String],
                        iters: Int, lr: Double): String = {
    val (body, wFinal, marginOf) = logregCtes(labelExpr, features, iters, lr)
    val termRows = features.zipWithIndex.map { case (f, i) =>
      s"SELECT 'w_$f' AS term, w$i AS v FROM $wFinal" } ++ Seq(
      s"SELECT 'intercept', b FROM $wFinal",
      s"""SELECT 'log_loss', (SELECT avg(CASE WHEN f.y = 1.0
            THEN ln(1.0 + exp(-(${marginOf(wFinal)})))
            ELSE ln(1.0 + exp(${marginOf(wFinal)})) END)
          FROM f CROSS JOIN $wFinal $wFinal)""")
    s"""WITH $body
         SELECT term, round(v, 6) AS value
         FROM (${termRows.mkString(" UNION ALL ")}) ORDER BY term"""
  }

  /** [[graft.ml.Calibration.reliabilityBins]] over the ml7 model:
    * identical GD trajectory CTEs, then row-level sigmoid scoring and
    * the fixed-width binning. */
  private def logregCalibSql(labelExpr: String, features: Seq[String],
                             iters: Int, lr: Double, bins: Int): String = {
    val (body, wFinal, marginOf) = logregCtes(labelExpr, features, iters, lr)
    s"""WITH $body,
         scored AS (SELECT f.y,
             1.0 / (1.0 + exp(-(${marginOf(wFinal)}))) AS p
           FROM f CROSS JOIN $wFinal $wFinal)
         SELECT CAST(least(floor(p * $bins), ${bins - 1}) AS INT) AS bin,
           count(*) AS n, round(avg(p), 6) AS mean_p,
           round(avg(y), 6) AS pos_rate,
           round(sum((p - y) * (p - y)), 6) AS brier_sum
         FROM scored GROUP BY 1 ORDER BY 1"""
  }

  /** [[graft.ml.Calibration.aucExact]] over the ml7 model's 9-dp
    * scores: identical trajectory CTEs, then the distinct-score
    * midrank rank-sum. */
  private def logregAucSql(labelExpr: String, features: Seq[String],
                           iters: Int, lr: Double): String = {
    val (body, wFinal, marginOf) = logregCtes(labelExpr, features, iters, lr)
    s"""WITH $body,
         scored AS (SELECT f.y,
             round(1.0 / (1.0 + exp(-(${marginOf(wFinal)}))), 9) AS p
           FROM f CROSS JOIN $wFinal $wFinal),
         g AS (SELECT p AS s, count(*) AS c, sum(y) AS pos
           FROM scored GROUP BY 1),
         r AS (SELECT s, c, pos, COALESCE(sum(c) OVER (ORDER BY s
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
           FROM g)
         SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
           CAST(sum(c) - sum(pos) AS BIGINT) AS n_neg,
           round((sum(pos * (cb + (c + 1) / 2.0))
               - sum(pos) * (sum(pos) + 1) / 2.0)
             / (sum(pos) * (sum(c) - sum(pos))), 6) AS auc
         FROM r"""
  }

  /** Morton bit-interleave of N integer expressions as plain DuckDB
    * shift/mask arithmetic — the SQL mirror of
    * [[graft.operators.ZOrder.zorderKeyN]] (bit i of expr j at
    * position i·N + j). */
  private def zorderSql(exprs: Seq[String], bits: Int): String = {
    val n = exprs.length
    (for { i <- 0 until bits; (e, j) <- exprs.zipWithIndex }
      yield s"((($e) >> $i) & 1) * ${1L << (i * n + j)}").mkString(" + ")
  }

  /** Fellegi–Sunter EM as unrolled DuckDB CTEs — generated by the same
    * loop count as [[graft.dedup.Linkage.emFit]] so engine and oracle
    * can never drift on the iteration structure. Expects CTEs `c`
    * (pattern census: g_<name>.. , n) and `tot` (nn = Σn as DOUBLE) to
    * be defined upstream; emits `e1..eI, prm0..prmI` plus the final
    * SELECT. Inits are CAST to DOUBLE so `1 − m` is double arithmetic
    * (a bare `1 - 0.8` would be exact DECIMAL — a DIFFERENT float than
    * the JVM's `1.0 - 0.8`). */
  private def fsEmSql(names: Seq[String], iters: Int): String = {
    val pm = "(" + names.map(n =>
      s"(CASE WHEN g_$n = 1 THEN m_$n ELSE 1 - m_$n END)").mkString(" * ") + ")"
    val pu = "(" + names.map(n =>
      s"(CASE WHEN g_$n = 1 THEN u_$n ELSE 1 - u_$n END)").mkString(" * ") + ")"
    val prm0 = s"""prm0 AS (SELECT CAST(0.5 AS DOUBLE) AS l,
      ${names.map(n => s"CAST(0.8 AS DOUBLE) AS m_$n").mkString(", ")},
      ${names.map(n => s"CAST(0.2 AS DOUBLE) AS u_$n").mkString(", ")})"""
    val iterCtes = (1 to iters).map { i =>
      s"""e$i AS (SELECT c.*, (l * $pm) / (l * $pm + (1 - l) * $pu) AS w
            FROM c CROSS JOIN prm${i - 1}),
          prm$i AS (SELECT sum(n * w) / (SELECT nn FROM tot) AS l,
            ${names.map(n =>
              s"sum(n * w * g_$n) / sum(n * w) AS m_$n").mkString(", ")},
            ${names.map(n =>
              s"sum(n * (1 - w) * g_$n) / ((SELECT nn FROM tot) - sum(n * w)) AS u_$n")
              .mkString(", ")}
            FROM e$i)"""
    }
    val patItem = "'pattern:' || " +
      names.map(n => s"CAST(g_$n AS VARCHAR)").mkString(" || ")
    s"""$prm0,
        ${iterCtes.mkString(",\n        ")}
        SELECT item, n, value FROM (
          SELECT $patItem AS item, CAST(n AS DOUBLE) AS n,
            round(w, 6) AS value FROM e$iters
          UNION ALL SELECT 'lambda', (SELECT nn FROM tot),
            round(l, 6) FROM prm$iters
          ${names.map(n => s"UNION ALL SELECT 'm_$n', (SELECT nn FROM tot), round(m_$n, 6) FROM prm$iters").mkString("\n          ")}
          ${names.map(n => s"UNION ALL SELECT 'u_$n', (SELECT nn FROM tot), round(u_$n, 6) FROM prm$iters").mkString("\n          ")}
        ) ORDER BY item"""
  }

  private def fnvSql(expr: String, basis: Long): String =
    s"""list_reduce(list_prepend($basis::BIGINT,
       list_transform(list_filter(string_split_regex($expr, ''), c -> len(c) > 0),
         c -> ascii(c)::BIGINT)),
       (h, b) -> (xor(h, b) * 16777619) & 4294967295)"""

  /** The reproducible minhash-LSH pipeline as DuckDB CTEs (shared by the
    * d3 pair gate and the d9 invariant gate): FNV shingle hashes →
    * frozen-constant `(a·h+b) mod p` signatures → 16-band banding on raw
    * slices → oversize-bucket star guard → pair dedup → agreement
    * scoring. Ends with the `est(doc_a, doc_b, est_jaccard)` CTE. */
  private lazy val minhashFnvPipeline: String =
    s"""WITH sh AS (SELECT doc_id,
           list_distinct(CASE WHEN len($toks) >= 3
             THEN list_transform(range(0, len($toks) - 2),
                    i -> array_to_string(($toks)[i+1:i+3], ' '))
             ELSE [array_to_string($toks, ' ')] END) AS s
           FROM documents),
         hs AS (SELECT doc_id, list_transform(s, g -> ${fnvSql("g", 2166136261L)}) AS hl
           FROM sh),
         perm AS (SELECT * FROM (VALUES $permValues) p(j, a, b)),
         sigv AS (SELECT doc_id, j,
             min((a * (h % 2147483647) + b) % 2147483647) AS v
           FROM (SELECT doc_id, unnest(hl) AS h FROM hs), perm
           GROUP BY doc_id, j),
         sig AS (SELECT doc_id, list(v ORDER BY j) AS sig FROM sigv GROUP BY doc_id),
         banded AS (SELECT doc_id, b AS band, sig[b*4+1 : b*4+4] AS key
           FROM sig, range(0, 16) r(b)),
         bsz AS (SELECT band, key, count(*) AS n, min(doc_id) AS rep
           FROM banded GROUP BY 1, 2),
         wsz AS (SELECT banded.doc_id, banded.band, banded.key, bsz.n, bsz.rep
           FROM banded JOIN bsz USING (band, key)),
         cand_small AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM (SELECT * FROM wsz WHERE n <= 64) a
           JOIN (SELECT * FROM wsz WHERE n <= 64) b USING (band, key)
           WHERE a.doc_id < b.doc_id),
         cand_star AS (SELECT rep AS doc_a, doc_id AS doc_b
           FROM wsz WHERE n > 64 AND doc_id != rep),
         cands AS (SELECT DISTINCT doc_a, doc_b FROM
           (SELECT * FROM cand_small UNION ALL SELECT * FROM cand_star)),
         est AS (SELECT doc_a, doc_b,
             len(list_filter(range(1, 65), j -> sa.sig[j] = sb.sig[j]))::DOUBLE / 64
               AS est_jaccard
           FROM cands
           JOIN sig sa ON sa.doc_id = doc_a
           JOIN sig sb ON sb.doc_id = doc_b)"""

  /** Decontamination census oracle shared by the batch (d11) and
    * streaming (st13) gates. */
  private lazy val decontReportSql: String =
    s"""WITH tk AS (SELECT doc_id, lang, $toks AS t FROM documents),
       sh AS (SELECT doc_id, lang, list_distinct(CASE WHEN len(t) >= 8
           THEN list_transform(range(0, len(t) - 7),
                  i -> array_to_string(t[i+1:i+8], ' '))
           ELSE [array_to_string(t, ' ')] END) AS s FROM tk),
       ev AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 97 = 0),
       bad AS (SELECT DISTINCT doc_id FROM
         (SELECT doc_id, unnest(s) AS g FROM sh) d JOIN ev USING (g)),
       kept AS (SELECT lang, count(*) AS n_kept FROM sh
         WHERE doc_id NOT IN (SELECT doc_id FROM bad) GROUP BY 1),
       base AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1)
       SELECT base.lang AS lang, n_docs, coalesce(n_kept, 0) AS n_kept,
         n_docs - coalesce(n_kept, 0) AS n_dropped
       FROM base LEFT JOIN kept ON base.lang = kept.lang
       ORDER BY 1"""

  /** Shared SCC oracle CTEs (g19/g20/g21): the dense mod-150 digraph,
    * its transitive closure `r` by recursive CTE, the reflexive
    * closure `cr`, and the mutual-reachability labeling `s` —
    * scc(v) = min{w : w →* v and v →* w}. */
  private lazy val sccOracleCtes: String =
    """WITH RECURSIVE e AS (SELECT DISTINCT o_custkey % 150 AS src,
           o_orderkey % 150 AS dst FROM orders
           WHERE o_custkey % 150 <> o_orderkey % 150),
         n AS (SELECT DISTINCT node FROM
           (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
         r AS (SELECT src, dst FROM e
           UNION
           SELECT r.src, e.dst FROM r JOIN e ON r.dst = e.src),
         cr AS (SELECT src, dst FROM r
           UNION SELECT node, node FROM n),
         s AS (SELECT a.dst AS node, min(a.src) AS scc
           FROM cr a JOIN cr b ON b.src = a.dst AND b.dst = a.src
           GROUP BY 1)"""

  /** Growing-screen oracle shared by st14 (inline corpus side) and
    * st16 (persisted → compacted → reloaded index): incoming×corpus
    * with the corpus-side star guard (as in d29) UNION the unguarded
    * incoming band self-join, canonically (min,max)-oriented. */
  private lazy val growingScreenSql: String =
    s"""$minhashFnvPipeline,
       bi AS (SELECT * FROM banded WHERE doc_id % 3 = 0),
       bc AS (SELECT * FROM banded WHERE doc_id % 3 <> 0),
       bszc AS (SELECT band, key, count(*) AS n, min(doc_id) AS rep
         FROM bc GROUP BY 1, 2),
       cx_small AS (SELECT DISTINCT i.doc_id AS u, c.doc_id AS v
         FROM bi i
         JOIN bszc z ON i.band = z.band AND i.key = z.key AND z.n <= 64
         JOIN bc c ON c.band = i.band AND c.key = i.key),
       cx_star AS (SELECT DISTINCT i.doc_id AS u, z.rep AS v
         FROM bi i
         JOIN bszc z ON i.band = z.band AND i.key = z.key AND z.n > 64),
       ii AS (SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
         FROM bi a JOIN bi b
           ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       cand AS (SELECT DISTINCT least(u, v) AS doc_a,
           greatest(u, v) AS doc_b
         FROM (SELECT * FROM cx_small UNION ALL SELECT * FROM cx_star
               UNION ALL SELECT * FROM ii)),
       stx AS (SELECT doc_a, doc_b,
           len(list_filter(range(1, 65), j -> sa.sig[j] = sb.sig[j]))::DOUBLE
             / 64 AS est_jaccard
         FROM cand
         JOIN sig sa ON sa.doc_id = doc_a
         JOIN sig sb ON sb.doc_id = doc_b)
       SELECT doc_a, doc_b, est_jaccard FROM stx WHERE est_jaccard >= 0.5
       ORDER BY doc_a, doc_b LIMIT 1000"""

  /** Time-bounded growing-screen oracle shared by st15 (inline corpus
    * side) and st17 (persisted → appended → reloaded index): identical
    * to [[growingScreenSql]] except the incoming×incoming side carries
    * the 120 s horizon (ts = epoch + doc_id seconds, so the predicate
    * is a doc_id difference); the corpus side is a snapshot —
    * horizon-free on both engines. */
  private lazy val windowedScreenSql: String =
    s"""$minhashFnvPipeline,
       bi AS (SELECT * FROM banded WHERE doc_id % 3 = 0),
       bc AS (SELECT * FROM banded WHERE doc_id % 3 <> 0),
       bszc AS (SELECT band, key, count(*) AS n, min(doc_id) AS rep
         FROM bc GROUP BY 1, 2),
       cx_small AS (SELECT DISTINCT i.doc_id AS u, c.doc_id AS v
         FROM bi i
         JOIN bszc z ON i.band = z.band AND i.key = z.key AND z.n <= 64
         JOIN bc c ON c.band = i.band AND c.key = i.key),
       cx_star AS (SELECT DISTINCT i.doc_id AS u, z.rep AS v
         FROM bi i
         JOIN bszc z ON i.band = z.band AND i.key = z.key AND z.n > 64),
       ii AS (SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
         FROM bi a JOIN bi b
           ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
         WHERE b.doc_id - a.doc_id <= 120),
       cand AS (SELECT DISTINCT least(u, v) AS doc_a,
           greatest(u, v) AS doc_b
         FROM (SELECT * FROM cx_small UNION ALL SELECT * FROM cx_star
               UNION ALL SELECT * FROM ii)),
       stx AS (SELECT doc_a, doc_b,
           len(list_filter(range(1, 65), j -> sa.sig[j] = sb.sig[j]))::DOUBLE
             / 64 AS est_jaccard
         FROM cand
         JOIN sig sa ON sa.doc_id = doc_a
         JOIN sig sb ON sb.doc_id = doc_b)
       SELECT doc_a, doc_b, est_jaccard FROM stx WHERE est_jaccard >= 0.5
       ORDER BY doc_a, doc_b LIMIT 1000"""

  /** Cross-corpus near-dup oracle shared by the batch (d29) and
    * streaming (st12) gates: the frozen-perms FNV pipeline's `banded`/
    * `sig` CTEs, split into incoming (doc_id % 3 = 0) and corpus sides,
    * with the bucket guard sized on the CORPUS side only — mirroring
    * `Dedup.crossCorpusNearDups` exactly. */
  private lazy val crossCorpusSql: String =
    s"""$minhashFnvPipeline,
       bi AS (SELECT * FROM banded WHERE doc_id % 3 = 0),
       bc AS (SELECT * FROM banded WHERE doc_id % 3 <> 0),
       bszc AS (SELECT band, key, count(*) AS n, min(doc_id) AS rep
         FROM bc GROUP BY 1, 2),
       cx_small AS (SELECT DISTINCT i.doc_id AS doc_in, c.doc_id AS doc_corpus
         FROM bi i
         JOIN bszc z ON i.band = z.band AND i.key = z.key AND z.n <= 64
         JOIN bc c ON c.band = i.band AND c.key = i.key),
       cx_star AS (SELECT DISTINCT i.doc_id AS doc_in, z.rep AS doc_corpus
         FROM bi i
         JOIN bszc z ON i.band = z.band AND i.key = z.key AND z.n > 64),
       cx AS (SELECT DISTINCT doc_in, doc_corpus FROM
         (SELECT * FROM cx_small UNION ALL SELECT * FROM cx_star)),
       estx AS (SELECT doc_in, doc_corpus,
           len(list_filter(range(1, 65), j -> si.sig[j] = sc.sig[j]))::DOUBLE / 64
             AS est_jaccard
         FROM cx
         JOIN sig si ON si.doc_id = doc_in
         JOIN sig sc ON sc.doc_id = doc_corpus)
       SELECT doc_in, doc_corpus, est_jaccard FROM estx
       WHERE est_jaccard >= 0.5
       ORDER BY doc_in, doc_corpus LIMIT 1000"""

  /** DuckDB regeneration of [[graft.taxi.TaxiFixture.yellowFromEvents]]
    * followed by the [[graft.taxi.Cleaning]] constants — the shared CTE
    * prefix of the x1–x4 taxi-path oracles. */
  private val taxiYellowCleaned =
    """WITH raw AS (SELECT
         ts AS pickup_ts,
         ts + to_minutes(event_id % 1500) AS dropoff_ts,
         CASE WHEN event_id % 97 = 0 THEN NULL
              ELSE ((event_id * 7) % 620 - 10)::DOUBLE END AS distance_mi,
         CASE WHEN event_id % 89 = 0 THEN NULL
              ELSE ((event_id * 13) % 210 - 10)::DOUBLE END AS fare,
         CAST(user_id % 260 + 1 AS INT) AS pu_zone,
         CAST((user_id + event_id) % 260 + 1 AS INT) AS do_zone
       FROM events),
     cl AS (SELECT *, date_diff('second', pickup_ts, dropoff_ts) / 60.0 AS duration_min
       FROM raw
       WHERE pickup_ts IS NOT NULL AND dropoff_ts IS NOT NULL AND dropoff_ts > pickup_ts
         AND date_diff('second', pickup_ts, dropoff_ts) / 60.0 > 0.5
         AND date_diff('second', pickup_ts, dropoff_ts) / 60.0 < 1440
         AND (distance_mi IS NULL OR (distance_mi > 0 AND distance_mi < 500))
         AND (fare IS NULL OR fare >= 0))"""

  def oracleSql: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity),0) AS sum_qty,
         round(sum(l_extendedprice),0) AS sum_base, round(avg(l_discount),6) AS avg_disc,
         count(*) AS cnt FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "s1_scan_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem
         WHERE l_quantity > 30 AND l_discount > 0.05 ORDER BY l_orderkey, l_linenumber""",
    "p4_year_filter" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year, count(*) AS cnt,
         round(sum(o_totalprice),0) AS total FROM orders
         WHERE year(o_orderdate) BETWEEN 1996 AND 1998 GROUP BY 1 ORDER BY o_year""",
    "p5_set_membership" ->
      """SELECT event_type, CAST(hour(ts) AS INT) AS hr, count(*) AS cnt,
         round(avg(value),4) AS avg_value FROM events
         WHERE event_type IN ('click','view') AND hour(ts) IN (20,21,22,23,0,1,2,3,4)
         GROUP BY 1,2 ORDER BY event_type, hr""",
    "p7_safe_cast" ->
      """SELECT event_type, round(sum(k),0) AS sum_k, count(k) AS cnt_k FROM (
           SELECT event_type,
             CASE WHEN regexp_matches(regexp_extract(props, '"k": (-?\d+)', 1), '^-?\d+(\.\d+)?$')
                  THEN CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS DOUBLE) END AS k
           FROM events) GROUP BY 1 ORDER BY event_type""",
    "p10_guarded_ratio" ->
      """SELECT l_returnflag, round(avg(CASE WHEN l_quantity > 0
         THEN l_extendedprice / l_quantity END),4) AS avg_unit_price, count(*) AS cnt
         FROM lineitem GROUP BY 1 ORDER BY l_returnflag""",
    "p12_clipped_ratio" ->
      """SELECT l_linestatus, round(avg(least(l_extendedprice / l_quantity, 2000.0)),4)
         AS avg_clipped_unit_price FROM lineitem WHERE l_quantity > 0
         GROUP BY 1 ORDER BY l_linestatus""",
    "p13_dow_counts" ->
      """SELECT strftime(ts, '%a') AS dow, count(*) AS trip_count FROM events
         GROUP BY 1 ORDER BY dow""",
    "t4_dow_ordered" ->
      """SELECT strftime(ts, '%a') AS dow, count(*) AS trip_count FROM events
         GROUP BY 1
         ORDER BY list_position(['Mon','Tue','Wed','Thu','Fri','Sat','Sun'], dow)""",
    "p14_season_totals" ->
      """SELECT CASE WHEN o_orderdate IS NULL THEN NULL
                     WHEN month(o_orderdate) IN (12,1,2) THEN 'Winter'
                     WHEN month(o_orderdate) IN (3,4,5) THEN 'Spring'
                     WHEN month(o_orderdate) IN (6,7,8) THEN 'Summer'
                     ELSE 'Fall' END AS season,
         count(*) AS cnt, round(sum(o_totalprice),0) AS total FROM orders
         GROUP BY 1 ORDER BY season NULLS FIRST""",
    "a1_hourly_profile" ->
      """SELECT CAST(hour(ts) AS INT) AS hr, round(avg(value),4) AS avg_value,
         count(*) AS cnt FROM events GROUP BY 1 ORDER BY hr""",
    "a3_busiest_keys" ->
      """SELECT o_custkey, count(*) AS trip_count FROM orders GROUP BY 1
         ORDER BY trip_count DESC, o_custkey LIMIT 100""",
    "a6_rollup_totals" ->
      """SELECT o_orderpriority, o_orderstatus, count(*) AS cnt,
         round(sum(o_totalprice),0) AS total FROM orders
         GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
         ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""",
    "k1_key_skew" ->
      """WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1),
         t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS n_keys,
           CAST(max(cnt) AS BIGINT) AS mx, avg(cnt) AS av FROM c)
         SELECT user_id, cnt, round(cnt / (1.0 * total), 6) AS share,
           n_keys, round(mx / av, 4) AS max_over_avg
         FROM c, t ORDER BY cnt DESC, user_id LIMIT 5""",
    "a28_cube_totals" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
         round(sum(l_quantity),0) AS sum_qty FROM lineitem
         GROUP BY CUBE(l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
    "a30_winsorized_stats" ->
      """WITH b AS (SELECT l_returnflag,
           quantile_cont(l_extendedprice, 0.05) AS qlo,
           quantile_cont(l_extendedprice, 0.95) AS qhi
           FROM lineitem GROUP BY 1),
         w AS (SELECT lineitem.l_returnflag AS l_returnflag, l_extendedprice,
           least(greatest(l_extendedprice, qlo), qhi) AS wv
           FROM lineitem JOIN b ON lineitem.l_returnflag = b.l_returnflag)
         SELECT l_returnflag, count(*) AS n,
           round(avg(l_extendedprice), 4) AS mean_raw,
           round(avg(wv), 4) AS mean_winsorized,
           round(min(wv), 4) AS w_lo, round(max(wv), 4) AS w_hi
         FROM w GROUP BY 1 ORDER BY 1""",
    "t19_source_divergence" ->
      s"""WITH tk AS (SELECT source, unnest($toks) AS tok FROM documents),
         tb AS (SELECT source, ${fnvSql("tok", 2166136261L)} % 64 AS b FROM tk),
         sb AS (SELECT source, b, count(*) AS n FROM tb GROUP BY 1, 2),
         tot AS (SELECT source, sum(n) AS n_src FROM sb GROUP BY 1),
         gl AS (SELECT b, sum(n) AS n_b FROM sb GROUP BY 1),
         ga AS (SELECT sum(n_b) AS n_all FROM gl)
         SELECT sb.source AS source, CAST(max(tot.n_src) AS BIGINT) AS n_tokens,
           round(sum((sb.n / tot.n_src) * ln((sb.n / tot.n_src) /
             (gl.n_b / (SELECT n_all FROM ga)))), 6) AS kl_vs_corpus
         FROM sb JOIN tot USING (source) JOIN gl USING (b)
         GROUP BY 1 ORDER BY 1""",
    "t20_dup_ngram_coverage" ->
      s"""WITH tk AS (SELECT doc_id, $toks AS t FROM documents),
         sh AS (SELECT doc_id, list_distinct(CASE WHEN len(t) >= 8
             THEN list_transform(range(0, len(t) - 7),
                    i -> array_to_string(t[i+1:i+8], ' '))
             ELSE [array_to_string(t, ' ')] END) AS s FROM tk),
         hs AS (SELECT doc_id, unnest(list_transform(s,
             g -> ${fnvSql("g", 2166136261L)})) AS h FROM sh),
         c AS (SELECT h, count(*) AS n_docs_with FROM hs GROUP BY 1),
         pd AS (SELECT doc_id, count(*) AS n_shingles,
             sum(CASE WHEN n_docs_with >= 2 THEN 1 ELSE 0 END) AS n_dup
           FROM hs JOIN c USING (h) GROUP BY 1)
         SELECT source, count(*) AS n_docs,
           CAST(sum(n_dup) AS BIGINT) AS dup_shingles,
           CAST(sum(n_shingles) AS BIGINT) AS total_shingles,
           round(avg(n_dup / (1.0 * n_shingles)), 6) AS avg_coverage
         FROM documents JOIN pd USING (doc_id)
         GROUP BY 1 ORDER BY 1""",
    "w7_quartile_ranks" ->
      """WITH r AS (SELECT o_orderpriority, o_orderkey,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           percent_rank() OVER w AS pr
           FROM orders
           WINDOW w AS (PARTITION BY o_orderpriority
             ORDER BY o_totalprice, o_orderkey))
         SELECT o_orderpriority, quartile, count(*) AS cnt,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
           round(max(pr),6) AS max_pr
         FROM r GROUP BY 1,2 ORDER BY 1,2""",
    "sql3_exists_subquery" ->
      """SELECT c_mktsegment, count(*) AS n_customers,
           count(CASE WHEN EXISTS (SELECT 1 FROM orders
             WHERE o_custkey = c_custkey AND o_totalprice > 300000)
             THEN 1 END) AS n_big_spenders,
           count(CASE WHEN NOT EXISTS (SELECT 1 FROM orders
             WHERE o_custkey = c_custkey) THEN 1 END) AS n_dormant
         FROM customer GROUP BY 1 ORDER BY 1""",
    "g1_pagerank" -> pagerankSql("o_custkey % 100", "o_orderkey % 97", 5),
    "g8_hits" -> hitsSql("o_custkey % 200", "o_orderkey % 211", 5),
    "g9_label_prop" -> labelPropSql("o_custkey % 1000", "o_orderkey % 997", 4),
    "g10_ppr" -> pprSql("o_custkey % 80", "o_orderkey % 83", "node < 8", 5),
    "g15_modularity" -> modularitySql("o_custkey % 1000", "o_orderkey % 997", 4),
    "w25_heap_topk" ->
      """WITH r AS (SELECT o_orderpriority, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_orderpriority
             ORDER BY o_totalprice DESC, o_orderkey) AS rank
           FROM orders)
         SELECT o_orderpriority, rank, o_orderkey, o_totalprice
         FROM r WHERE rank <= 3 ORDER BY o_orderpriority, rank""",
    "u10_interval_union" ->
      """WITH iv AS (SELECT user_id % 50 AS ukey,
           epoch_ms(ts) // 1000 AS s0,
           epoch_ms(ts) // 1000
             + CAST(floor(least(greatest(value, 0), 300) * 12) AS BIGINT)
             + 60 AS e0
           FROM events),
         f AS (SELECT ukey, s0, e0,
           CASE WHEN s0 > COALESCE(max(e0) OVER (PARTITION BY ukey
               ORDER BY s0, e0
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
             THEN 1 ELSE 0 END AS newf
           FROM iv),
         i AS (SELECT ukey, s0, e0, sum(newf) OVER (PARTITION BY ukey
             ORDER BY s0, e0
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
           FROM f),
         g AS (SELECT ukey, isl, min(s0) AS s, max(e0) AS e
           FROM i GROUP BY 1, 2)
         SELECT ukey, count(*) AS n_islands,
           CAST(sum(e - s) AS BIGINT) AS covered,
           max(e - s) AS max_island
         FROM g GROUP BY 1 ORDER BY ukey""",
    "ml12_multi_ols" ->
      """WITH m AS (SELECT
           covar_pop(l_quantity, l_extendedprice / 1000.0) AS c1y,
           covar_pop(l_discount, l_extendedprice / 1000.0) AS c2y,
           covar_pop(l_quantity, l_discount) AS c12,
           var_pop(l_quantity) AS v1, var_pop(l_discount) AS v2,
           var_pop(l_extendedprice / 1000.0) AS vy,
           avg(l_extendedprice / 1000.0) AS my,
           avg(l_quantity) AS m1, avg(l_discount) AS m2
           FROM lineitem),
         b AS (SELECT *,
           (v2 * c1y - c12 * c2y) / (v1 * v2 - c12 * c12) AS bb1,
           (v1 * c2y - c12 * c1y) / (v1 * v2 - c12 * c12) AS bb2
           FROM m)
         SELECT round(my - bb1 * m1 - bb2 * m2, 4) AS b0,
           round(bb1, 4) AS b1, round(bb2, 4) AS b2,
           round((bb1 * c1y + bb2 * c2y) / vy, 4) AS r2
         FROM b""",
    "ml13_stump_split" ->
      """WITH pts AS (
           SELECT 'l_quantity' AS feature,
             CAST(least(greatest(floor((l_quantity - 0.0) / 2.0), 0), 24) AS BIGINT) AS bin,
             CASE WHEN l_quantity + l_discount * 20.0 > 28.0 THEN 1 ELSE 0 END AS y
           FROM lineitem
           UNION ALL
           SELECT 'l_discount',
             CAST(least(greatest(floor((l_discount - 0.0) / 0.01), 0), 9) AS BIGINT),
             CASE WHEN l_quantity + l_discount * 20.0 > 28.0 THEN 1 ELSE 0 END
           FROM lineitem
           UNION ALL
           SELECT 'l_extendedprice',
             CAST(least(greatest(floor((l_extendedprice - 0.0) / 5000.0), 0), 19) AS BIGINT),
             CASE WHEN l_quantity + l_discount * 20.0 > 28.0 THEN 1 ELSE 0 END
           FROM lineitem),
         stats AS (SELECT feature, bin, count(*) AS n, sum(y) AS pos
           FROM pts GROUP BY 1, 2),
         cum AS (SELECT *,
           sum(n) OVER (PARTITION BY feature ORDER BY bin) AS nl,
           sum(pos) OVER (PARTITION BY feature ORDER BY bin) AS posl,
           sum(n) OVER (PARTITION BY feature) AS ntot,
           sum(pos) OVER (PARTITION BY feature) AS postot
           FROM stats),
         g AS (SELECT feature,
           CASE feature WHEN 'l_quantity' THEN 0.0 + (bin + 1) * 2.0
                        WHEN 'l_discount' THEN 0.0 + (bin + 1) * 0.01
                        ELSE 0.0 + (bin + 1) * 5000.0 END AS threshold,
           nl AS n_left, ntot - nl AS n_right,
           (1.0 - (postot * 1.0 / ntot) * (postot * 1.0 / ntot)
              - (1.0 - postot * 1.0 / ntot) * (1.0 - postot * 1.0 / ntot))
           - ((nl * 1.0 / ntot) * (1.0 - (posl * 1.0 / nl) * (posl * 1.0 / nl)
                - (1.0 - posl * 1.0 / nl) * (1.0 - posl * 1.0 / nl))
              + ((ntot - nl) * 1.0 / ntot)
                * (1.0 - ((postot - posl) * 1.0 / (ntot - nl))
                     * ((postot - posl) * 1.0 / (ntot - nl))
                   - (1.0 - (postot - posl) * 1.0 / (ntot - nl))
                     * (1.0 - (postot - posl) * 1.0 / (ntot - nl)))) AS raw_gain
           FROM cum WHERE nl > 0 AND ntot - nl > 0)
         SELECT feature, round(threshold, 6) AS threshold,
           CAST(n_left AS BIGINT) AS n_left, CAST(n_right AS BIGINT) AS n_right,
           round(raw_gain, 6) AS gain
         FROM g ORDER BY gain DESC, feature, threshold LIMIT 5""",
    "ml16_boosted_stumps" -> boostedStumpSql,
    "ml17_decile_lift" ->
      """WITH t AS (SELECT l_quantity + l_discount * 20.0 AS s,
           CASE WHEN l_extendedprice > 30000.0 THEN 1 ELSE 0 END AS y,
           l_orderkey * 10 + l_linenumber AS id FROM lineitem),
         d AS (SELECT ntile(10) OVER (ORDER BY s DESC, id) AS decile, y
           FROM t),
         g AS (SELECT decile, count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos
           FROM d GROUP BY 1),
         c AS (SELECT *, sum(n) OVER (ORDER BY decile) AS cum_n,
           sum(n_pos) OVER (ORDER BY decile) AS cum_pos,
           sum(n) OVER () AS tot_n, sum(n_pos) OVER () AS tot_pos FROM g)
         SELECT decile, n, n_pos,
           round(CAST(n_pos AS DOUBLE) / n, 6) AS response_rate,
           round((CAST(cum_pos AS DOUBLE) / cum_n)
             / (CAST(tot_pos AS DOUBLE) / tot_n), 6) AS cum_lift
         FROM c ORDER BY decile""",
    "g14_reach_profile" ->
      """WITH e AS MATERIALIZED (SELECT DISTINCT o_custkey % 150 AS src,
           o_orderkey % 151 AS dst, 1 AS w FROM orders),
         d0 AS (SELECT CAST(range AS BIGINT) AS node,
           CAST(0 AS BIGINT) AS dist FROM range(4)),
         d1 AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (
           SELECT node, dist FROM d0 UNION ALL
           SELECT e.dst AS node, d.dist + e.w AS dist
           FROM e JOIN d0 d ON e.src = d.node) GROUP BY 1),
         d2 AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (
           SELECT node, dist FROM d1 UNION ALL
           SELECT e.dst AS node, d.dist + e.w AS dist
           FROM e JOIN d1 d ON e.src = d.node) GROUP BY 1),
         d3 AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (
           SELECT node, dist FROM d2 UNION ALL
           SELECT e.dst AS node, d.dist + e.w AS dist
           FROM e JOIN d2 d ON e.src = d.node) GROUP BY 1),
         d4 AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (
           SELECT node, dist FROM d3 UNION ALL
           SELECT e.dst AS node, d.dist + e.w AS dist
           FROM e JOIN d3 d ON e.src = d.node) GROUP BY 1),
         h AS (SELECT dist AS hop, count(*) AS n_at FROM d4 GROUP BY 1)
         SELECT hop, n_at,
           CAST(sum(n_at) OVER (ORDER BY hop) AS BIGINT) AS n_within
         FROM h ORDER BY hop""",
    "ml14_threshold_sweep" -> {
      val thr = Seq(5.0, 15.0, 25.0, 35.0, 45.0)
      val sums = thr.zipWithIndex.map { case (t, i) =>
        s"""sum(CASE WHEN l_quantity > $t AND l_extendedprice > 30000.0
             THEN 1 ELSE 0 END) AS tp$i,
           count(CASE WHEN l_quantity > $t THEN 1 END) AS pp$i"""
      }.mkString(",\n           ")
      val rows = thr.zipWithIndex.map { case (t, i) =>
        s"""SELECT $t AS threshold, CAST(tp$i AS BIGINT) AS tp,
             CAST(pp$i - tp$i AS BIGINT) AS fp,
             CAST(pos - tp$i AS BIGINT) AS fn FROM a"""
      }.mkString("\n           UNION ALL ")
      s"""WITH a AS MATERIALIZED (SELECT
           sum(CASE WHEN l_extendedprice > 30000.0 THEN 1 ELSE 0 END) AS pos,
           $sums
           FROM lineitem),
         r AS ($rows)
         SELECT threshold, tp, fp, fn,
           CASE WHEN tp + fp > 0
             THEN round(CAST(tp AS DOUBLE) / (tp + fp), 6) END AS precision,
           CASE WHEN tp + fn > 0
             THEN round(CAST(tp AS DOUBLE) / (tp + fn), 6) END AS recall,
           CASE WHEN 2 * tp + fp + fn > 0
             THEN round(CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn), 6)
           END AS f1
         FROM r ORDER BY threshold"""
    },
    "a47_higher_moments" ->
      """WITH r AS (SELECT l_returnflag, count(*) AS n, avg(l_quantity) AS m,
           avg(l_quantity * l_quantity) AS e2,
           avg(l_quantity * l_quantity * l_quantity) AS e3,
           avg(l_quantity * l_quantity * l_quantity * l_quantity) AS e4
           FROM lineitem GROUP BY 1),
         c AS (SELECT l_returnflag, n, m,
           e2 - m * m AS m2,
           e3 - 3.0 * m * e2 + 2.0 * m * m * m AS m3,
           e4 - 4.0 * m * e3 + 6.0 * m * m * e2 - 3.0 * m * m * m * m AS m4
           FROM r)
         SELECT l_returnflag, n, round(m, 6) AS mean, round(m2, 6) AS m2,
           round(m3 / pow(m2, 1.5), 6) AS skewness,
           round(m4 / (m2 * m2) - 3.0, 6) AS kurtosis_excess
         FROM c ORDER BY l_returnflag""",
    "g11_sssp" -> ssspSql("o_custkey % 120", "o_orderkey % 127",
      "o_orderkey % 7 + 1", nSeeds = 5, rounds = 4),
    "ml22_auc" ->
      """WITH s AS (SELECT value,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
           FROM events WHERE value IS NOT NULL),
         r AS (SELECT y, rank() OVER (ORDER BY value)
           + (count(*) OVER (PARTITION BY value) - 1) / 2.0 AS ar FROM s),
         t AS (SELECT CAST(sum(y) AS BIGINT) AS p,
           CAST(count(*) - sum(y) AS BIGINT) AS q,
           sum(CASE WHEN y = 1 THEN ar END) AS rp FROM r)
         SELECT p AS n_pos, q AS n_neg,
           round((rp - CAST(p AS DOUBLE) * (p + 1) / 2)
             / (CAST(p AS DOUBLE) * q), 6) AS auc
         FROM t""",
    "ml23_calibration_bins" ->
      """WITH s AS (SELECT
           (user_id * 2654435761 % 1000) / 1000.0 AS p,
           CASE WHEN value > 50 THEN 1.0 ELSE 0.0 END AS y
           FROM events WHERE value IS NOT NULL)
         SELECT CAST(least(floor(p * 10), 9) AS INT) AS bin,
           count(*) AS n, round(avg(p), 6) AS mean_p,
           round(avg(y), 6) AS pos_rate,
           round(sum(pow(p - y, 2)), 6) AS brier_sum
         FROM s GROUP BY 1 ORDER BY 1""",
    "ml24_brier_ece" ->
      """WITH s AS (SELECT
           (user_id * 2654435761 % 1000) / 1000.0 AS p,
           CASE WHEN value > 50 THEN 1.0 ELSE 0.0 END AS y
           FROM events WHERE value IS NOT NULL),
         b AS (SELECT CAST(least(floor(p * 10), 9) AS BIGINT) AS bin,
           count(*) AS n, sum(pow(p - y, 2)) AS se,
           avg(p) AS conf, avg(y) AS acc FROM s GROUP BY 1)
         SELECT CAST(sum(n) AS BIGINT) AS n_rows,
           round(sum(se) / sum(n), 6) AS brier,
           round(sum(n * abs(conf - acc)) / sum(n), 6) AS ece
         FROM b""",
    "ml25_ndcg_mrr" ->
      """WITH r AS (SELECT user_id,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS rel,
           row_number() OVER (PARTITION BY user_id
             ORDER BY value DESC, event_id) AS rnk
           FROM events WHERE value IS NOT NULL),
         q AS (SELECT user_id, CAST(sum(rel) AS BIGINT) AS n_rel,
           sum(CASE WHEN rnk <= 10 AND rel = 1
             THEN 1.0 / log2(rnk + 1) ELSE 0 END) AS dcg,
           min(CASE WHEN rel = 1 THEN rnk END) AS first_rel
           FROM r GROUP BY 1),
         i AS (SELECT user_id, sum(1.0 / log2(ii + 1)) AS idcg FROM (
           SELECT user_id,
             unnest(range(1, CAST(least(n_rel, 10) AS BIGINT) + 1)) AS ii
           FROM q WHERE n_rel > 0) GROUP BY 1)
         SELECT count(*) AS n_queries,
           count(CASE WHEN n_rel > 0 THEN 1 END) AS n_with_rel,
           round(avg(CASE WHEN n_rel > 0 THEN dcg / idcg END), 6)
             AS mean_ndcg,
           round(avg(CASE WHEN n_rel > 0 THEN 1.0 / first_rel END), 6)
             AS mean_mrr
         FROM q LEFT JOIN i USING (user_id)""",
    "ml28_rbo" ->
      """WITH r AS (SELECT user_id,
           row_number() OVER (PARTITION BY user_id
             ORDER BY value DESC, event_id) AS ra,
           row_number() OVER (PARTITION BY user_id
             ORDER BY (event_id * 2654435761 % 1000) DESC, event_id) AS rb
           FROM events WHERE value IS NOT NULL),
         mm AS (SELECT user_id, greatest(ra, rb) AS m FROM r),
         suf AS (SELECT ms.range + 1 AS m,
             sum(CASE WHEN ds.range >= ms.range
               THEN pow(0.9, ds.range) / (ds.range + 1) ELSE 0 END) AS s
           FROM range(0, 10) ms, range(0, 10) ds GROUP BY 1),
         q AS (SELECT user_id, sum(coalesce(suf.s, 0)) AS tot
           FROM mm LEFT JOIN suf ON suf.m = mm.m GROUP BY 1)
         SELECT count(*) AS n_queries,
           round(avg(tot * (1 - 0.9)), 6) AS mean_rbo
         FROM q""",
    "ml26_loo_target_encode" ->
      """WITH s AS (SELECT lang, CAST(sum(n_chars) AS DOUBLE) AS sm,
           count(*) AS n FROM documents GROUP BY 1),
         e AS (SELECT d.lang, CASE WHEN s.n > 1
           THEN (s.sm - d.n_chars) / (s.n - 1) END AS loo
           FROM documents d JOIN s USING (lang))
         SELECT lang, count(loo) AS n_enc,
           round(avg(loo), 6) AS mean_enc,
           round(min(loo), 6) AS min_enc,
           round(max(loo), 6) AS max_enc,
           round(stddev_pop(loo), 6) AS sd_enc
         FROM e GROUP BY 1 ORDER BY 1""",
    "ex1_cuped" ->
      """WITH u AS (SELECT user_id,
           coalesce(sum(CASE WHEN day(ts) <= 15 THEN value END), 0) AS pre,
           coalesce(sum(CASE WHEN day(ts) > 15 THEN value END), 0) AS post
           FROM events WHERE value IS NOT NULL GROUP BY 1),
         s AS (SELECT avg(pre) AS mean_pre,
           CASE WHEN var_pop(pre) > 0
             THEN covar_pop(pre, post) / var_pop(pre) ELSE 0 END AS theta
           FROM u),
         a AS (SELECT user_id % 2 AS arm, post,
           post - theta * (pre - mean_pre) AS adj FROM u, s)
         SELECT arm, count(*) AS n_units,
           round(avg(post), 6) AS mean_post,
           round(avg(adj), 6) AS mean_adj,
           round(CASE WHEN var_pop(post) > 0
             THEN var_pop(adj) / var_pop(post) ELSE 1 END, 6) AS var_ratio
         FROM a GROUP BY 1 ORDER BY 1""",
    "ex2_srm" ->
      """WITH b AS (SELECT user_id % 3 AS arm,
           count(DISTINCT user_id) AS n FROM events GROUP BY 1),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS total,
           count(*) AS n_arms FROM b)
         SELECT t.total AS n_units, t.n_arms AS n_arms,
           round(sum(pow(b.n - CAST(t.total AS DOUBLE) / t.n_arms, 2)
             / (CAST(t.total AS DOUBLE) / t.n_arms)), 6) AS chi2,
           round(sum(pow(b.n - CAST(t.total AS DOUBLE) / t.n_arms, 2)
             / (CAST(t.total AS DOUBLE) / t.n_arms)), 6) > 5.991
             AS srm_detected
         FROM b, t GROUP BY t.total, t.n_arms""",
    "ex3_did" ->
      """SELECT count(CASE WHEN user_id % 2 = 0 THEN 1 END) AS n_treat,
           count(CASE WHEN user_id % 2 <> 0 THEN 1 END) AS n_control,
           round(avg(CASE WHEN user_id % 2 = 0 AND day(ts) <= 15
             THEN value END), 6) AS m_t_pre,
           round(avg(CASE WHEN user_id % 2 = 0 AND day(ts) > 15
             THEN value END), 6) AS m_t_post,
           round(avg(CASE WHEN user_id % 2 <> 0 AND day(ts) <= 15
             THEN value END), 6) AS m_c_pre,
           round(avg(CASE WHEN user_id % 2 <> 0 AND day(ts) > 15
             THEN value END), 6) AS m_c_post,
           round((avg(CASE WHEN user_id % 2 = 0 AND day(ts) > 15
               THEN value END)
             - avg(CASE WHEN user_id % 2 = 0 AND day(ts) <= 15
               THEN value END))
             - (avg(CASE WHEN user_id % 2 <> 0 AND day(ts) > 15
               THEN value END)
             - avg(CASE WHEN user_id % 2 <> 0 AND day(ts) <= 15
               THEN value END)), 6) AS did
         FROM events WHERE value IS NOT NULL""",
    "ex4_cem_att" ->
      """WITH s AS (SELECT event_type, floor(hour(ts) / 6) AS hb,
           count(CASE WHEN user_id % 7 = 0 THEN 1 END) AS n_t,
           count(CASE WHEN user_id % 7 <> 0 THEN 1 END) AS n_c,
           avg(CASE WHEN user_id % 7 = 0 THEN value END) AS m_t,
           avg(CASE WHEN user_id % 7 <> 0 THEN value END) AS m_c
           FROM events WHERE value IS NOT NULL GROUP BY 1, 2)
         SELECT count(*) AS n_strata,
           count(CASE WHEN n_t > 0 AND n_c > 0 THEN 1 END) AS n_matched,
           CAST(coalesce(sum(CASE WHEN n_t > 0 AND n_c > 0 THEN n_t END),
             0) AS BIGINT) AS treated_matched,
           round(sum(CASE WHEN n_t > 0 AND n_c > 0
               THEN n_t * (m_t - m_c) END)
             / sum(CASE WHEN n_t > 0 AND n_c > 0 THEN n_t END), 6) AS att
         FROM s""",
    "ex6_prop_ztest" ->
      """WITH g AS (SELECT event_type,
           count(CASE WHEN user_id % 2 = 0 THEN 1 END) AS n_a,
           count(CASE WHEN user_id % 2 <> 0 THEN 1 END) AS n_b,
           count(CASE WHEN user_id % 2 = 0 AND value > 50
             THEN 1 END) AS x_a,
           count(CASE WHEN user_id % 2 <> 0 AND value > 50
             THEN 1 END) AS x_b
           FROM events GROUP BY 1),
         t AS (SELECT event_type, n_a, n_b,
           CAST(x_a AS DOUBLE) / n_a AS pa,
           CAST(x_b AS DOUBLE) / n_b AS pb,
           CAST(x_a + x_b AS DOUBLE) / (n_a + n_b) AS pp FROM g
           WHERE n_a > 0 AND n_b > 0),
         u AS (SELECT *, sqrt(pp * (1 - pp)
           * (1.0 / n_a + 1.0 / n_b)) AS se FROM t)
         SELECT event_type, n_a, n_b,
           round(pa, 6) AS p_a, round(pb, 6) AS p_b,
           round(CASE WHEN se > 0 THEN (pa - pb) / se ELSE 0 END, 6)
             AS z_stat,
           abs(CASE WHEN se > 0 THEN (pa - pb) / se ELSE 0 END)
             > 1.959964 AS significant
         FROM u ORDER BY event_type""",
    "ex7_mantel_haenszel" ->
      """WITH s AS (SELECT event_type,
           count(CASE WHEN user_id % 7 = 0 AND value > 50
             THEN 1 END) AS a,
           count(CASE WHEN user_id % 7 = 0 AND NOT (value > 50)
             THEN 1 END) AS b,
           count(CASE WHEN user_id % 7 <> 0 AND value > 50
             THEN 1 END) AS c,
           count(CASE WHEN user_id % 7 <> 0 AND NOT (value > 50)
             THEN 1 END) AS d
           FROM events GROUP BY 1),
         t AS (SELECT *, CAST(a + b + c + d AS DOUBLE) AS n FROM s),
         u AS (SELECT count(*) AS n_strata,
           CAST(sum(a) AS BIGINT) AS tot_treat_succ,
           CAST(sum(c) AS BIGINT) AS tot_ctrl_succ,
           sum(CAST(a AS DOUBLE) * d / n) AS sad,
           sum(CAST(b AS DOUBLE) * c / n) AS sbc FROM t)
         SELECT n_strata, tot_treat_succ, tot_ctrl_succ,
           round(CASE WHEN sbc > 0 THEN sad / sbc END, 6) AS or_mh,
           round(CASE WHEN sbc > 0 AND sad > 0 THEN ln(sad / sbc) END, 6)
             AS log_or_mh
         FROM u""",
    "ex8_uplift_buckets" ->
      """WITH s AS (SELECT (user_id * 2654435761 % 1000) / 1000.0 AS p,
           user_id % 2 = 0 AS tr, value > 50 AS resp
           FROM events WHERE value IS NOT NULL),
         b AS (SELECT CAST(least(floor(p * 10), 9) AS BIGINT) AS bucket,
           count(CASE WHEN tr THEN 1 END) AS n_t,
           count(CASE WHEN NOT tr THEN 1 END) AS n_c,
           count(CASE WHEN tr AND resp THEN 1 END) AS r_t,
           count(CASE WHEN NOT tr AND resp THEN 1 END) AS r_c
           FROM s GROUP BY 1),
         c AS (SELECT *, sum(r_t) OVER w AS cum_rt,
           sum(r_c) OVER w AS cum_rc, sum(n_t) OVER w AS cum_nt,
           sum(n_c) OVER w AS cum_nc FROM b
           WINDOW w AS (ORDER BY bucket DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT bucket, n_t, n_c,
           round(CASE WHEN n_t > 0 AND n_c > 0
             THEN CAST(r_t AS DOUBLE) / n_t - CAST(r_c AS DOUBLE) / n_c
             END, 6) AS uplift,
           round(CASE WHEN cum_nc > 0
             THEN cum_rt - CAST(cum_rc AS DOUBLE) * cum_nt / cum_nc
             END, 6) AS qini_cum
         FROM c ORDER BY bucket DESC""",
    "ex9_ratio_delta" ->
      """WITH u AS (SELECT user_id,
           coalesce(sum(CASE WHEN event_type = 'purchase' THEN value
             ELSE 0 END), 0) AS x,
           coalesce(sum(1.0), 0) AS y
           FROM events GROUP BY 1),
         g AS (SELECT count(*) AS n, avg(x) AS mx, avg(y) AS my,
           var_samp(x) AS sxx, var_samp(y) AS syy,
           covar_samp(x, y) AS sxy FROM u),
         f AS (SELECT n,
           CASE WHEN my <> 0 THEN mx / my END AS r,
           CASE WHEN my <> 0 THEN
             sqrt((sxx - 2 * (mx / my) * sxy
               + (mx / my) * (mx / my) * syy) / (n * my * my)) END AS se
           FROM g)
         SELECT n AS n_units, round(r, 6) AS ratio, round(se, 6) AS se,
           round(r - 1.959964 * se, 6) AS ci_lo,
           round(r + 1.959964 * se, 6) AS ci_hi
         FROM f""",
    "ex10_poststrat" ->
      """WITH s AS (SELECT event_type, count(*) AS n_pop,
           count(CASE WHEN user_id % 5 = 0 AND value IS NOT NULL
             THEN 1 END) AS n_samp,
           avg(CASE WHEN user_id % 5 = 0 THEN value END) AS m_samp
           FROM events GROUP BY 1)
         SELECT CAST(sum(n_samp) AS BIGINT) AS n_sample,
           round(sum(m_samp * n_samp) / sum(n_samp), 6) AS naive_mean,
           round(sum(CASE WHEN n_samp > 0 THEN n_pop * m_samp END)
             / sum(CASE WHEN n_samp > 0 THEN n_pop END), 6)
             AS poststrat_mean,
           round(CAST(sum(CASE WHEN n_samp > 0 THEN n_pop END) AS DOUBLE)
             / sum(n_pop), 6) AS covered_share
         FROM s""",
    "ml27_nelson_aalen" ->
      """WITH a AS (SELECT user_id, CAST(ts AS DATE) AS day
           FROM events WHERE value > 150),
         u AS (SELECT user_id, min(day) AS f, max(day) AS l FROM a GROUP BY 1),
         m AS (SELECT max(l) AS mx FROM u),
         s AS (SELECT datediff('day', f, l) AS dur,
             CASE WHEN datediff('day', l, (SELECT mx FROM m)) >= 7
               THEN 1 ELSE 0 END AS ev FROM u),
         g AS (SELECT dur, CAST(sum(ev) AS BIGINT) AS d,
             CAST(count(*) - sum(ev) AS BIGINT) AS c FROM s GROUP BY 1),
         r AS (SELECT dur, d,
             CAST((SELECT count(*) FROM s) - coalesce(sum(d + c) OVER
               (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS BIGINT) AS n_risk FROM g),
         k AS (SELECT dur, d, n_risk,
             sum(CAST(d AS DOUBLE) / n_risk) OVER (ORDER BY dur) AS h
           FROM r WHERE d > 0)
         SELECT CAST(dur AS INT) AS duration_days, n_risk, d AS n_events,
           round(h, 6) AS cum_hazard,
           round(exp(-h), 6) AS surv_breslow
         FROM k ORDER BY 1""",
    "ex5_mde" ->
      """WITH g AS (SELECT event_type,
           count(CASE WHEN user_id % 2 = 0 THEN 1 END) AS n_a,
           count(CASE WHEN user_id % 2 <> 0 THEN 1 END) AS n_b,
           var_samp(value) AS v, avg(value) AS m
           FROM events WHERE value IS NOT NULL GROUP BY 1)
         SELECT event_type, n_a, n_b,
           round(sqrt(v), 6) AS sd_pooled,
           round(2.801585 * sqrt(v / n_a + v / n_b), 6) AS mde_abs,
           round(2.801585 * sqrt(v / n_a + v / n_b) / m, 6) AS mde_rel
         FROM g WHERE n_a > 0 AND n_b > 0 ORDER BY event_type""",
    "a53_kmv_setops" ->
      s"""WITH side AS (SELECT DISTINCT
           CASE WHEN source = 'src0' THEN 'a' ELSE 'b' END AS g,
           ${fnvSql("CAST(n_chars AS VARCHAR)", 2166136261L)} AS h
           FROM documents WHERE source IN ('src0', 'src1')
             AND n_chars IS NOT NULL),
         sk AS (SELECT g, h, row_number() OVER (PARTITION BY g
           ORDER BY h) AS rk FROM side),
         f AS (SELECT g, h FROM sk WHERE rk <= 256),
         u AS (SELECT h, row_number() OVER (ORDER BY h) AS urk
           FROM (SELECT DISTINCT h FROM f)),
         uk AS (SELECT h FROM u WHERE urk <= 256),
         fl AS (SELECT uk.h,
           max(CASE WHEN f.g = 'a' THEN 1 ELSE 0 END) AS in_a,
           max(CASE WHEN f.g = 'b' THEN 1 ELSE 0 END) AS in_b
           FROM uk JOIN f ON uk.h = f.h GROUP BY 1),
         g2 AS (SELECT count(*) AS k_eff,
           CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_both,
           max(h) AS kth FROM fl)
         SELECT k_eff, n_both,
           round(CAST(n_both AS DOUBLE) / k_eff, 6) AS est_jaccard,
           round(CASE WHEN k_eff < 256 THEN CAST(k_eff AS DOUBLE)
             ELSE (k_eff - 1.0) / (kth / 4294967296.0) END, 4) AS est_union,
           round(CAST(n_both AS DOUBLE) / k_eff
             * CASE WHEN k_eff < 256 THEN CAST(k_eff AS DOUBLE)
               ELSE (k_eff - 1.0) / (kth / 4294967296.0) END, 4)
             AS est_intersection
         FROM g2""",
    "a52_kmv_distinct" ->
      s"""WITH h AS (SELECT DISTINCT source,
           ${fnvSql("text", 2166136261L)} AS h FROM documents
           WHERE text IS NOT NULL),
         r AS (SELECT source, h, row_number() OVER (PARTITION BY source
           ORDER BY h) AS rk FROM h),
         f AS (SELECT source, h, rk FROM r WHERE rk <= 256),
         g AS (SELECT source, count(*) AS n_kept,
           max(CASE WHEN rk = 256 THEN h END) AS kth FROM f GROUP BY 1)
         SELECT source, n_kept,
           round(CASE WHEN n_kept < 256 THEN CAST(n_kept AS DOUBLE)
             ELSE 255.0 / (kth / 4294967296.0) END, 4) AS kmv_estimate
         FROM g ORDER BY source""",
    "sql5_json_extract" ->
      """WITH x AS (SELECT event_type,
           CASE WHEN regexp_matches(props, '"k": -?\d+')
             THEN CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS BIGINT)
             END AS k
           FROM events)
         SELECT event_type, count(*) AS n_rows, count(k) AS n_k,
           CAST(sum(k) AS BIGINT) AS sum_k, round(avg(k), 6) AS avg_k
         FROM x GROUP BY 1 ORDER BY 1""",
    "tp12_effective_sample_size" ->
      """WITH t AS (SELECT source,
           CAST(n_chars % 101 + 1 AS DOUBLE) AS w FROM documents),
         g AS (SELECT source, count(*) AS n, sum(w) AS sw,
           sum(w * w) AS sw2 FROM t GROUP BY 1)
         SELECT source, n, round(sw * sw / sw2, 6) AS ess,
           round(sw * sw / sw2 / n, 6) AS ess_ratio
         FROM g ORDER BY source""",
    // Lehmer LCG uniform → inverse-CDF Laplace(1/eps), eps = 0.5
    "dp1_noised_counts" ->
      """WITH g AS (SELECT lang, count(*) AS true_count FROM documents
           GROUP BY 1),
         k AS (SELECT *, CAST(ascii(substr(lang, 1, 1)) * 256
             + ascii(substr(lang, 2, 1)) AS BIGINT) AS key FROM g),
         n AS (SELECT lang, true_count,
           (CAST((key * 48271 + 1) % 2147483647 AS DOUBLE) + 1)
             / 2147483648.0 AS u FROM k)
         SELECT lang, true_count,
           round(true_count
             + (-1.0 / 0.5) * sign(u - 0.5) * ln(1 - 2 * abs(u - 0.5)), 4)
             AS noised,
           CAST(greatest(round(true_count
             + (-1.0 / 0.5) * sign(u - 0.5) * ln(1 - 2 * abs(u - 0.5))), 0)
             AS BIGINT) AS released
         FROM n ORDER BY lang""",
    "dq4_k_anonymity" ->
      """WITH g AS (SELECT c_mktsegment, c_nationkey, count(*) AS n,
           count(DISTINCT CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS l
           FROM customer GROUP BY 1, 2)
         SELECT count(*) AS n_groups,
           CAST(sum(CASE WHEN n < 10 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_small_groups,
           CAST(sum(CASE WHEN n < 10 THEN n ELSE 0 END) AS BIGINT)
             AS rows_at_risk,
           min(n) AS min_group_size, min(l) AS min_l_diversity
         FROM g""",
    "a49_gini" ->
      """WITH t AS (SELECT c_mktsegment, c_custkey, sum(o_totalprice) AS x
           FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2),
         r AS (SELECT c_mktsegment, x, row_number() OVER (
             PARTITION BY c_mktsegment ORDER BY x, c_custkey) AS i FROM t)
         SELECT c_mktsegment, count(*) AS n_keys,
           round(2.0 * sum(i * x) / (count(*) * sum(x))
             - CAST(count(*) + 1 AS DOUBLE) / count(*), 6) AS gini
         FROM r GROUP BY 1 ORDER BY c_mktsegment""",
    "a48_spearman" ->
      """WITH r AS (SELECT event_type,
           rank() OVER (PARTITION BY event_type ORDER BY value)
             + (count(*) OVER (PARTITION BY event_type, value) - 1) / 2.0 AS rx,
           rank() OVER (PARTITION BY event_type ORDER BY hour(ts))
             + (count(*) OVER (PARTITION BY event_type, hour(ts)) - 1) / 2.0 AS ry
           FROM events)
         SELECT event_type, count(*) AS n, round(corr(rx, ry), 6) AS spearman
         FROM r GROUP BY 1 ORDER BY event_type""",
    "g19_scc" ->
      s"""$sccOracleCtes
         SELECT node, scc FROM s ORDER BY 1""",
    "g20_condensation" ->
      s"""$sccOracleCtes,
         sz AS (SELECT scc, count(*) AS sz FROM s GROUP BY 1),
         de AS (SELECT DISTINCT sa.scc AS src, sb.scc AS dst
           FROM e JOIN s sa ON e.src = sa.node
           JOIN s sb ON e.dst = sb.node WHERE sa.scc <> sb.scc)
         SELECT (SELECT count(*) FROM sz) AS n_sccs,
           (SELECT max(sz) FROM sz) AS max_scc_size,
           (SELECT CAST(sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT)
             FROM sz) AS n_singletons,
           (SELECT count(*) FROM de) AS n_dag_edges""",
    "g21_topo_layers" ->
      """WITH RECURSIVE e AS (
           SELECT DISTINCT src, dst FROM (
             SELECT o_custkey % 40 AS src, o_orderkey % 40 + 40 AS dst
               FROM orders
             UNION ALL
             SELECT o_custkey % 40 + 40, o_orderkey % 40 + 80 FROM orders
             UNION ALL
             SELECT o_custkey % 40 + 80, o_orderkey % 40 + 80 FROM orders
               WHERE o_custkey % 40 <> o_orderkey % 40)),
         n AS (SELECT DISTINCT node FROM
           (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
         r AS (SELECT src, dst FROM e
           UNION
           SELECT r.src, e.dst FROM r JOIN e ON r.dst = e.src),
         cr AS (SELECT src, dst FROM r
           UNION SELECT node, node FROM n),
         s AS (SELECT a.dst AS node, min(a.src) AS scc
           FROM cr a JOIN cr b ON b.src = a.dst AND b.dst = a.src
           GROUP BY 1),
         de AS (SELECT DISTINCT sa.scc AS src, sb.scc AS dst
           FROM e JOIN s sa ON e.src = sa.node
           JOIN s sb ON e.dst = sb.node WHERE sa.scc <> sb.scc),
         dn AS (SELECT DISTINCT node FROM
           (SELECT src AS node FROM de UNION ALL SELECT dst FROM de)),
         p AS (SELECT dst AS node, 1 AS d FROM de
           UNION ALL
           SELECT de.dst, p.d + 1 FROM p JOIN de ON de.src = p.node),
         pl AS (SELECT node, max(d) AS l FROM p GROUP BY 1)
         SELECT dn.node, CAST(coalesce(pl.l, 0) AS BIGINT) AS layer
         FROM dn LEFT JOIN pl USING (node) ORDER BY 1""",
    "g12_assortativity" ->
      """WITH e AS MATERIALIZED (SELECT DISTINCT
           least(o_custkey % 300, o_orderkey % 307) AS a,
           greatest(o_custkey % 300, o_orderkey % 307) AS b
           FROM orders WHERE o_custkey % 300 <> o_orderkey % 307),
         deg AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
           SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e)
           GROUP BY 1),
         wd AS (SELECT da.deg AS da, db.deg AS db FROM e
           JOIN deg da ON e.a = da.node JOIN deg db ON e.b = db.node),
         bo AS (SELECT da AS dx, db AS dy FROM wd
           UNION ALL SELECT db AS dx, da AS dy FROM wd)
         SELECT (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
           count(*) AS n_endpoints,
           round(corr(CAST(dx AS DOUBLE), CAST(dy AS DOUBLE)), 6)
             AS assortativity
         FROM bo""",
    "er1_golden_record" ->
      """WITH s AS (SELECT p_brand, p_name, p_partkey,
           lag(p_name) OVER (PARTITION BY p_brand
             ORDER BY p_name, p_partkey) AS prev
           FROM part),
         f AS (SELECT p_brand, p_partkey,
           CASE WHEN prev IS NULL
             OR round(jaro_winkler_similarity(prev, p_name), 6) < 0.95
           THEN 1 ELSE 0 END AS newf,
           row_number() OVER (PARTITION BY p_brand
             ORDER BY p_name, p_partkey) AS rn
           FROM s),
         i AS (SELECT p_brand, p_partkey,
           sum(newf) OVER (PARTITION BY p_brand ORDER BY rn
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cl
           FROM f),
         c AS (SELECT p_brand, cl, count(*) AS sz, min(p_partkey) AS canon
           FROM i GROUP BY 1, 2)
         SELECT p_brand, count(*) AS n_clusters,
           CAST(sum(CASE WHEN sz >= 2 THEN sz ELSE 0 END) AS BIGINT)
             AS n_merged_rows,
           CAST(sum(sz - 1) AS BIGINT) AS n_retired,
           CAST(sum(CASE WHEN sz >= 2 THEN canon ELSE 0 END) AS BIGINT)
             AS canon_id_sum
         FROM c GROUP BY 1 ORDER BY p_brand""",
    "f1_funnel" ->
      """WITH s1 AS MATERIALIZED (SELECT user_id, min(ts) AS t
           FROM events WHERE event_type = 'view' GROUP BY 1),
         s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
           JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1),
         s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
           JOIN s2 ON e.user_id = s2.user_id
           WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1),
         g2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
           JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'click' AND e.ts > s1.t
             AND e.ts <= s1.t + INTERVAL 48 HOURS GROUP BY 1),
         g3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
           JOIN g2 ON e.user_id = g2.user_id
           WHERE e.event_type = 'purchase' AND e.ts > g2.t
             AND e.ts <= g2.t + INTERVAL 48 HOURS GROUP BY 1),
         n1 AS (SELECT count(*) AS n FROM s1),
         counts(variant, step, event_type, n_users) AS (
           SELECT 'strict', 1, 'view', (SELECT n FROM n1)
           UNION ALL SELECT 'strict', 2, 'click', (SELECT count(*) FROM s2)
           UNION ALL SELECT 'strict', 3, 'purchase', (SELECT count(*) FROM s3)
           UNION ALL SELECT 'gap48h', 1, 'view', (SELECT n FROM n1)
           UNION ALL SELECT 'gap48h', 2, 'click', (SELECT count(*) FROM g2)
           UNION ALL SELECT 'gap48h', 3, 'purchase', (SELECT count(*) FROM g3))
         SELECT step, event_type, n_users,
           round(n_users::DOUBLE / (SELECT n FROM n1), 4) AS pct_of_first,
           variant
         FROM counts ORDER BY variant, step""",
    "g2_pagerank_dangling" ->
      pagerankSql("o_custkey % 50", "50 + o_orderkey % 53", 5),
    "io5_schema_evolution" ->
      """SELECT (doc_id % 2 = 0 OR lang IS NULL) AS lang_missing, count(*) AS n_docs,
         CAST(sum(doc_id) AS BIGINT) AS id_sum,
         CAST(sum(len(text)) AS BIGINT) AS chars
         FROM documents GROUP BY 1 ORDER BY lang_missing""",
    "io6_drift_guarded_write" ->
      """SELECT source, count(*) AS n_docs,
         CAST(sum(doc_id) AS BIGINT) AS id_sum,
         count(CASE WHEN source = 'src3' OR lang IS NULL THEN 1 END)
           AS n_null_lang,
         CAST(sum(CASE WHEN source = 'src3' THEN n_chars END) AS BIGINT)
           AS chars_sum
         FROM documents GROUP BY source ORDER BY source""",
    "ob1_observed_metrics" ->
      """SELECT count(*) AS n_in, coalesce(round(sum(value), 0), 0.0) AS v_in,
         count(CASE WHEN value > 100 THEN 1 END) AS n_out
         FROM events""",
    "j8_join_cardinality" ->
      """SELECT (SELECT count(*) FROM orders) AS n_left,
         (SELECT count(*) FROM customer) AS n_right,
         (SELECT count(DISTINCT o_custkey) FROM orders) AS d_left,
         (SELECT count(DISTINCT c_custkey) FROM customer) AS d_right,
         (SELECT count(*) FROM (SELECT DISTINCT o_custkey FROM orders) o
            JOIN (SELECT DISTINCT c_custkey FROM customer) c
            ON o.o_custkey = c.c_custkey) AS d_overlap,
         (SELECT count(*) FROM orders JOIN customer
            ON o_custkey = c_custkey) AS join_rows,
         true AS sketch_within_bounds, true AS estimate_within_15pct""",
    "z2_zorder3_bucket" ->
      s"""WITH z AS (SELECT
           ${zorderSql(Seq("l_partkey % 16", "l_suppkey % 16", "l_linenumber % 16"), 4)}
             AS zkey,
           l_orderkey FROM lineitem)
         SELECT CAST(floor(zkey / 64) AS BIGINT) AS z_bucket,
           count(*) AS n_rows, min(zkey) AS z_min, max(zkey) AS z_max,
           CAST(sum(l_orderkey) AS BIGINT) AS key_sum
         FROM z GROUP BY 1 ORDER BY z_bucket""",
    "u3_except_intersect" ->
      """WITH a AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderkey % 2 = 0),
         b AS (SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 150000)
         SELECT 'a_except_b' AS op, count(*) AS n_keys,
           CAST(sum(o_custkey) AS BIGINT) AS key_sum
         FROM (SELECT o_custkey FROM a EXCEPT SELECT o_custkey FROM b)
         UNION ALL
         SELECT 'intersect', count(*), CAST(sum(o_custkey) AS BIGINT)
         FROM (SELECT o_custkey FROM a INTERSECT SELECT o_custkey FROM b)
         ORDER BY op""",
    "w11_sessionize_chunked" ->
      """WITH flagged AS (SELECT user_id,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
                THEN 1 ELSE 0 END AS new_session, ts, event_id
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         sess AS (SELECT user_id, sum(new_session) OVER (PARTITION BY user_id
           ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
           FROM flagged),
         counts AS (SELECT user_id, session_id, count(*) AS n FROM sess GROUP BY 1,2)
         SELECT user_id, count(*) AS n_sessions,
           round(avg(n),4) AS avg_session_events,
           max(n) AS max_session_events
         FROM counts GROUP BY 1 ORDER BY user_id""",
    "w10_transition_matrix" ->
      """WITH s AS (SELECT user_id, event_type,
           lead(event_type) OVER (PARTITION BY user_id
             ORDER BY ts, event_id) AS next_type
           FROM events)
         SELECT event_type AS from_type, next_type AS to_type,
           count(*) AS n_transitions
         FROM s WHERE next_type IS NOT NULL
         GROUP BY 1,2 ORDER BY 1,2""",
    "pr2_profile_approx" ->
      """SELECT 'o_custkey' AS "column", count(*) AS n_rows,
           count(CASE WHEN o_custkey IS NULL THEN 1 END) AS n_null,
           count(DISTINCT o_custkey) AS distinct_exact,
           true AS approx_within_bound
         FROM orders
         UNION ALL
         SELECT 'o_orderpriority', count(*),
           count(CASE WHEN o_orderpriority IS NULL THEN 1 END),
           count(DISTINCT o_orderpriority), true
         FROM orders
         UNION ALL
         SELECT 'o_orderstatus', count(*),
           count(CASE WHEN o_orderstatus IS NULL THEN 1 END),
           count(DISTINCT o_orderstatus), true
         FROM orders
         ORDER BY "column"""",
    "w8_retention_cohorts" ->
      """WITH a AS (SELECT user_id, CAST(ts AS DATE) AS day
           FROM events WHERE value > 120),
         f AS (SELECT user_id, min(day) AS cohort FROM a GROUP BY 1)
         SELECT strftime(cohort, '%Y-%m-%d') AS cohort,
           CAST(datediff('day', cohort, day) AS INT) AS offset_days,
           count(DISTINCT user_id) AS n_users
         FROM a JOIN f USING (user_id)
         WHERE datediff('day', cohort, day) <= 7
         GROUP BY 1,2 ORDER BY 1,2""",
    "w14_range_rolling" ->
      """SELECT event_id, user_id,
         count(*) OVER w AS n_trailing,
         round(sum(value) OVER w, 4) AS value_trailing
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
           RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)
         ORDER BY event_id""",
    // untruncated closed form: weights β^(t-k) ∝ 2^k for β=½, so the
    // cumulative sums are exact power-of-two scalings of the engine's
    // fold — per-row agreement at 4 decimals over every event
    "w15_ewma" ->
      """WITH r AS (SELECT event_id, user_id, value,
           row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
           FROM events),
         c AS (SELECT event_id, user_id, rn,
           sum(value * pow(2.0, rn)) OVER w AS num,
           sum(pow(2.0, rn)) OVER w AS den
           FROM r
           WINDOW w AS (PARTITION BY user_id ORDER BY rn
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT event_id, user_id, rn, round(num / den, 4) AS ewma
         FROM c ORDER BY event_id""",
    "w16_rank_scaling" ->
      """SELECT event_id, event_type,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cdf
         FROM events WHERE value IS NOT NULL
         WINDOW w AS (PARTITION BY event_type ORDER BY value)
         ORDER BY event_id""",
    "w17_time_weighted_avg" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS tms, value
           FROM events WHERE value IS NOT NULL),
         s AS (SELECT user_id, tms, value,
           lead(tms) OVER w AS nt, lead(value) OVER w AS nv
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tms, event_id))
         SELECT user_id, count(*) AS n_segments,
           round(sum((value + nv) / 2 * (nt - tms)) / sum(nt - tms), 4) AS twa
         FROM s WHERE nt IS NOT NULL
         GROUP BY 1 HAVING sum(nt - tms) > 0 ORDER BY user_id""",
    "a33_unpivot" ->
      """WITH g AS (SELECT l_returnflag,
           round(sum(l_quantity), 4) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_price,
           round(avg(l_discount), 6) AS avg_disc,
           round(avg(l_tax), 6) AS avg_tax
           FROM lineitem GROUP BY 1)
         SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM g
         UNION ALL SELECT l_returnflag, 'sum_price', sum_price FROM g
         UNION ALL SELECT l_returnflag, 'avg_disc', avg_disc FROM g
         UNION ALL SELECT l_returnflag, 'avg_tax', avg_tax FROM g
         ORDER BY l_returnflag, metric""",
    "a34_generalized_means" ->
      """SELECT l_returnflag, count(*) AS cnt,
           round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 4)
             AS weighted_avg_price,
           round(exp(avg(ln(l_extendedprice))), 4) AS geo_mean_price,
           round(count(*) / sum(1.0 / l_extendedprice), 4) AS harm_mean_price
         FROM lineitem GROUP BY 1 ORDER BY l_returnflag""",
    "a41_mode_by_group" ->
      """WITH c AS (SELECT l_returnflag, l_quantity AS v, count(*) AS c
           FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1, 2),
         r AS (SELECT l_returnflag, v, c,
           row_number() OVER (PARTITION BY l_returnflag
             ORDER BY c DESC, v ASC) AS rn,
           count(*) OVER (PARTITION BY l_returnflag) AS n_distinct
           FROM c)
         SELECT l_returnflag, v AS mode, c AS mode_count, n_distinct
         FROM r WHERE rn = 1 ORDER BY l_returnflag""",
    "w21_pareto_share" ->
      """WITH t AS (SELECT o_custkey AS k, sum(o_totalprice) AS v
           FROM orders GROUP BY 1),
         r AS (SELECT k, v,
           sum(v) OVER (ORDER BY v DESC, k) AS cum,
           sum(v) OVER () AS tot,
           row_number() OVER (ORDER BY v DESC, k) AS rk,
           count(*) OVER () AS n FROM t)
         SELECT CAST(ceil(rk * 10.0 / n) AS INT) AS decile,
           count(*) AS n_keys, round(max(cum / tot), 6) AS cum_share
         FROM r GROUP BY 1 ORDER BY 1""",
    "pr5_fk_inclusion" ->
      """WITH pairs AS (
           SELECT 'orders.custkey->customer' AS fk,
             (SELECT count(DISTINCT o_custkey) FROM orders) AS n_child_keys,
             (SELECT count(DISTINCT o.o_custkey) FROM orders o
               WHERE EXISTS (SELECT 1 FROM customer c
                 WHERE c.c_custkey = o.o_custkey)) AS n_contained
           UNION ALL
           SELECT 'lineitem.orderkey->orders',
             (SELECT count(DISTINCT l_orderkey) FROM lineitem),
             (SELECT count(DISTINCT l.l_orderkey) FROM lineitem l
               WHERE EXISTS (SELECT 1 FROM orders o
                 WHERE o.o_orderkey = l.l_orderkey))
           UNION ALL
           SELECT 'customer.custkey->high_value_orders',
             (SELECT count(DISTINCT c_custkey) FROM customer),
             (SELECT count(DISTINCT c.c_custkey) FROM customer c
               WHERE EXISTS (SELECT 1 FROM orders o
                 WHERE o.o_custkey = c.c_custkey
                   AND o.o_totalprice > 300000)))
         SELECT fk, n_child_keys, n_contained,
           round(n_contained::DOUBLE / n_child_keys, 4) AS inclusion
         FROM pairs ORDER BY fk""",
    "pr3_corr_matrix" ->
      """SELECT * FROM (
           SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
             round(corr(l_quantity, l_extendedprice), 6) AS corr FROM lineitem
           UNION ALL SELECT 'l_quantity', 'l_discount',
             round(corr(l_quantity, l_discount), 6) FROM lineitem
           UNION ALL SELECT 'l_quantity', 'l_tax',
             round(corr(l_quantity, l_tax), 6) FROM lineitem
           UNION ALL SELECT 'l_extendedprice', 'l_discount',
             round(corr(l_extendedprice, l_discount), 6) FROM lineitem
           UNION ALL SELECT 'l_extendedprice', 'l_tax',
             round(corr(l_extendedprice, l_tax), 6) FROM lineitem
           UNION ALL SELECT 'l_discount', 'l_tax',
             round(corr(l_discount, l_tax), 6) FROM lineitem)
         ORDER BY col_a, col_b""",
    "a43_weighted_quantiles" ->
      """WITH t AS (SELECT l_returnflag, l_extendedprice, l_quantity,
           sum(l_quantity) OVER (PARTITION BY l_returnflag
             ORDER BY l_extendedprice) AS cw,
           sum(l_quantity) OVER (PARTITION BY l_returnflag) AS tw
           FROM lineitem
           WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL)
         SELECT l_returnflag,
           min(CASE WHEN cw >= tw * 0.25 THEN l_extendedprice END) AS wq_25,
           min(CASE WHEN cw >= tw * 0.5 THEN l_extendedprice END) AS wq_50,
           min(CASE WHEN cw >= tw * 0.9 THEN l_extendedprice END) AS wq_90
         FROM t GROUP BY 1 ORDER BY 1""",
    "g6_degree_profile" ->
      """WITH e AS (SELECT DISTINCT o_custkey % 500 AS src,
           o_orderkey % 499 AS dst FROM orders),
         deg AS (SELECT src, count(*) AS d FROM e GROUP BY 1)
         SELECT count(*) AS n_nodes, CAST(sum(d) AS BIGINT) AS n_edges,
           round(avg(d), 4) AS mean_deg, max(d) AS max_deg,
           round(quantile_cont(d, 0.9), 4) AS p90_deg,
           round(1.0 + count(*) FILTER (d >= 2)
             / sum(CASE WHEN d >= 2 THEN ln(d / 1.5) END), 4) AS hill_alpha
         FROM deg""",
    "a38_weighted_median" ->
      """WITH t AS (SELECT l_returnflag, l_extendedprice, l_quantity,
           sum(l_quantity) OVER (PARTITION BY l_returnflag
             ORDER BY l_extendedprice) AS cw,
           sum(l_quantity) OVER (PARTITION BY l_returnflag) AS tw
           FROM lineitem
           WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL)
         SELECT l_returnflag, min(l_extendedprice) AS weighted_median,
           round(max(tw), 4) AS total_weight
         FROM t WHERE cw >= tw * 0.5 GROUP BY 1 ORDER BY 1""",
    "a39_equidepth_hist" ->
      """WITH t AS (SELECT l_returnflag, l_extendedprice,
           ntile(8) OVER (PARTITION BY l_returnflag
             ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS bucket
           FROM lineitem)
         SELECT l_returnflag, bucket, count(*) AS n,
           round(min(l_extendedprice), 4) AS lo,
           round(max(l_extendedprice), 4) AS hi
         FROM t GROUP BY 1, 2 ORDER BY 1, 2""",
    "x9_nearest_station" ->
      """WITH p AS (SELECT event_id AS point_id,
           (user_id % 171)::DOUBLE - 85.0 + 0.25 AS lat,
           (event_id % 360)::DOUBLE - 180.0 + 0.5 AS lon FROM events),
         s AS (SELECT CAST(n_nationkey AS BIGINT) AS station_id,
           ((n_nationkey * 37) % 171)::DOUBLE - 85.0 + 0.1 AS s_lat,
           ((n_nationkey * 91) % 360)::DOUBLE - 180.0 + 0.2 AS s_lon
           FROM nation),
         d AS (SELECT point_id, station_id,
           12742.0 * asin(sqrt(
             sin(radians(s_lat - lat) / 2) * sin(radians(s_lat - lat) / 2)
             + cos(radians(lat)) * cos(radians(s_lat))
               * sin(radians(s_lon - lon) / 2)
               * sin(radians(s_lon - lon) / 2))) AS dist
           FROM p CROSS JOIN s),
         best AS (SELECT point_id, station_id, dist, row_number() OVER (
             PARTITION BY point_id ORDER BY dist, station_id) AS rn
           FROM d)
         SELECT station_id, count(*) AS n_points,
           round(avg(dist), 2) AS avg_km, round(max(dist), 2) AS max_km
         FROM best WHERE rn = 1 GROUP BY 1 ORDER BY station_id""",
    // same brute-force oracle as x9: the grid escalation is exact
    "x9b_nearest_station_grid" ->
      """WITH p AS (SELECT event_id AS point_id,
           (user_id % 171)::DOUBLE - 85.0 + 0.25 AS lat,
           (event_id % 360)::DOUBLE - 180.0 + 0.5 AS lon FROM events),
         s AS (SELECT CAST(n_nationkey AS BIGINT) AS station_id,
           ((n_nationkey * 37) % 171)::DOUBLE - 85.0 + 0.1 AS s_lat,
           ((n_nationkey * 91) % 360)::DOUBLE - 180.0 + 0.2 AS s_lon
           FROM nation),
         d AS (SELECT point_id, station_id,
           12742.0 * asin(sqrt(
             sin(radians(s_lat - lat) / 2) * sin(radians(s_lat - lat) / 2)
             + cos(radians(lat)) * cos(radians(s_lat))
               * sin(radians(s_lon - lon) / 2)
               * sin(radians(s_lon - lon) / 2))) AS dist
           FROM p CROSS JOIN s),
         best AS (SELECT point_id, station_id, dist, row_number() OVER (
             PARTITION BY point_id ORDER BY dist, station_id) AS rn
           FROM d)
         SELECT station_id, count(*) AS n_points,
           round(avg(dist), 2) AS avg_km, round(max(dist), 2) AS max_km
         FROM best WHERE rn = 1 GROUP BY 1 ORDER BY station_id""",
    "a37_grouped_ridge" ->
      """WITH g AS (SELECT l_returnflag, count(*) AS n,
           var_pop(l_quantity) + 1e-6 AS s11,
           var_pop(l_discount) + 1e-6 AS s22,
           covar_pop(l_quantity, l_discount) AS s12,
           covar_pop(l_quantity, l_extendedprice) AS c1y,
           covar_pop(l_discount, l_extendedprice) AS c2y,
           avg(l_quantity) AS m1, avg(l_discount) AS m2,
           avg(l_extendedprice) AS my
           FROM lineitem GROUP BY 1)
         SELECT l_returnflag, n,
           round((c1y*s22 - s12*c2y) / (s11*s22 - s12*s12), 4) AS b1,
           round((c2y*s11 - s12*c1y) / (s11*s22 - s12*s12), 4) AS b2,
           round(my - (c1y*s22 - s12*c2y) / (s11*s22 - s12*s12) * m1
                    - (c2y*s11 - s12*c1y) / (s11*s22 - s12*s12) * m2, 4)
             AS intercept
         FROM g ORDER BY l_returnflag""",
    "g5_bfs_hops" ->
      """WITH RECURSIVE e AS (SELECT DISTINCT o_custkey % 500 AS src,
           (o_custkey * 7 + o_orderkey) % 500 AS dst
           FROM orders WHERE o_orderkey % 7 = 0),
         b(node, d) AS (
           SELECT CAST(unnest([0, 1, 2]) AS BIGINT), 0
           UNION
           SELECT e.dst, b.d + 1 FROM b JOIN e ON e.src = b.node
           WHERE b.d < 4)
         SELECT node, min(d) AS dist FROM b GROUP BY 1 ORDER BY node""",
    "a35_grouped_ols" ->
      """WITH e AS (SELECT event_type,
           epoch_ms(ts) / 86400000.0 AS x, value AS y
           FROM events WHERE value IS NOT NULL)
         SELECT event_type, count(*) AS n,
           round(covar_pop(x, y) / var_pop(x), 6) AS slope,
           round(avg(y) - covar_pop(x, y) / var_pop(x) * avg(x), 6)
             AS intercept,
           round(pow(corr(x, y), 2), 6) AS r2
         FROM e GROUP BY 1 ORDER BY event_type""",
    "w18_dense_topk_ties" ->
      """WITH b AS (SELECT o_orderpriority,
           CAST(floor(o_totalprice / 1000) * 1000 AS BIGINT) AS price_bucket,
           count(*) AS n_orders
           FROM orders GROUP BY 1, 2),
         r AS (SELECT *, dense_rank() OVER (PARTITION BY o_orderpriority
             ORDER BY price_bucket DESC) AS rank
           FROM b)
         SELECT o_orderpriority, rank, price_bucket, n_orders
         FROM r WHERE rank <= 3 ORDER BY o_orderpriority, rank""",
    "w19_streaks" ->
      """WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
           FROM events),
         i AS (SELECT user_id, day, day - CAST(row_number() OVER (
             PARTITION BY user_id ORDER BY day) AS INTEGER) AS anchor
           FROM days),
         s AS (SELECT user_id, anchor, count(*) AS len FROM i GROUP BY 1, 2)
         SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
           max(len) AS longest_streak, count(*) AS n_streaks
         FROM s GROUP BY 1 ORDER BY user_id""",
    "tp5_dedup_weighted_mix" ->
      s"""WITH RECURSIVE sh AS (SELECT doc_id, source,
           list_distinct(CASE WHEN len($toks) >= 3
             THEN list_transform(range(0, len($toks) - 2),
                    i -> array_to_string(($toks)[i+1:i+3], ' '))
             ELSE [array_to_string($toks, ' ')] END) AS s
           FROM documents),
         near AS (SELECT a.doc_id AS a, b.doc_id AS b
           FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
           WHERE round(len(list_intersect(a.s, b.s))::DOUBLE /
             len(list_distinct(list_concat(a.s, b.s))), 6) >= 0.5),
         reps AS (SELECT text, min(doc_id) AS rep FROM documents GROUP BY text),
         exact AS (SELECT d.doc_id AS a, r.rep AS b
           FROM documents d JOIN reps r ON d.text = r.text
           WHERE d.doc_id != r.rep),
         e AS (SELECT a, b FROM exact UNION ALL SELECT a, b FROM near
               UNION ALL SELECT b, a FROM exact UNION ALL SELECT b, a FROM near),
         reach(src, node) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT r.src, e.b FROM reach r JOIN e ON e.a = r.node),
         lab AS (SELECT node, min(src) AS comp FROM reach GROUP BY node),
         sz AS (SELECT comp, count(*) AS sz FROM lab GROUP BY 1),
         w AS (SELECT lab.node AS doc_id, sz.sz, 1.0 / sz.sz AS weight
           FROM lab JOIN sz USING (comp)),
         k AS (SELECT doc_id, sz,
             pow((${fnvSql("CAST(doc_id AS VARCHAR) || ':42'", 2166136261L)}
                   % 1000000 + 0.5) / 1000000.0,
               1.0 / weight) AS es_key
           FROM w WHERE weight > 0)
         SELECT doc_id, sz AS cluster_size, round(es_key, 6) AS es_key
         FROM k ORDER BY es_key DESC, doc_id LIMIT 40""",
    "a46_runs_test" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
           avg(value) AS v FROM events WHERE value IS NOT NULL
           GROUP BY 1, 2),
         dl AS (SELECT event_type, day, v - lag(v) OVER (
             PARTITION BY event_type ORDER BY day) AS delta FROM daily),
         sg AS (SELECT event_type, day,
           CASE WHEN delta > 0 THEN 1 ELSE -1 END AS sgn
           FROM dl WHERE delta IS NOT NULL AND delta <> 0.0),
         pv AS (SELECT event_type, sgn, lag(sgn) OVER (
             PARTITION BY event_type ORDER BY day) AS prev FROM sg),
         agg AS (SELECT event_type, count(*) AS n,
           CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pos,
           CAST(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_neg,
           CAST(1 + sum(CASE WHEN prev IS NOT NULL AND sgn <> prev
             THEN 1 ELSE 0 END) AS BIGINT) AS runs
           FROM pv GROUP BY 1),
         m AS (SELECT *, 2.0 * n_pos * n_neg / n + 1.0 AS mu FROM agg)
         SELECT event_type, n, n_pos, n_neg, runs,
           round((runs - mu)
             / sqrt((mu - 1.0) * (mu - 2.0) / (n - 1.0)), 4) AS z
         FROM m ORDER BY event_type""",
    "j12_coverage_gaps" ->
      """WITH iv AS (SELECT ts AS s, ts + INTERVAL 1 HOUR AS e
           FROM events WHERE event_id % 500 = 0)
         SELECT event_type, count(*) AS n_uncovered,
           CAST(sum(event_id) AS BIGINT) AS id_sum
         FROM events ev
         WHERE NOT EXISTS (SELECT 1 FROM iv
           WHERE ev.ts >= iv.s AND ev.ts <= iv.e)
         GROUP BY 1 ORDER BY event_type""",
    "w24_cusum_changepoint" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
           avg(value) AS v FROM events WHERE value IS NOT NULL
           GROUP BY 1, 2),
         c0 AS (SELECT event_type, day, v,
           avg(v) OVER (PARTITION BY event_type) AS mu,
           count(*) OVER (PARTITION BY event_type) AS n_days
           FROM daily),
         c AS (SELECT event_type, day, n_days,
           abs(sum(v - mu) OVER (PARTITION BY event_type ORDER BY day))
             AS acs FROM c0),
         r AS (SELECT *, row_number() OVER (PARTITION BY event_type
             ORDER BY acs DESC, day) AS rn FROM c)
         SELECT event_type, n_days,
           strftime(day, '%Y-%m-%d') AS changepoint_day,
           round(acs, 4) AS max_abs_cusum
         FROM r WHERE rn = 1 ORDER BY event_type""",
    "w22_autocorr" ->
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
           avg(value) AS v FROM events GROUP BY 1, 2),
         p AS (SELECT a.event_type, a.v, b.v AS v_next
           FROM d a JOIN d b ON a.event_type = b.event_type
             AND b.day = a.day + 1)
         SELECT event_type, count(*) AS n_pairs,
           round(corr(v, v_next), 6) AS autocorr_lag1
         FROM p GROUP BY 1 ORDER BY 1""",
    "ml6_naive_bayes" ->
      s"""WITH tok AS (SELECT doc_id, lang AS cls, unnest($toks) AS tok
           FROM documents),
         vocab AS (SELECT tok FROM (SELECT tok, count(*) AS cnt
           FROM tok GROUP BY 1 ORDER BY cnt DESC, tok LIMIT 2000)),
         iv AS (SELECT t.doc_id, t.cls, t.tok
           FROM tok t JOIN vocab v ON t.tok = v.tok),
         ct AS (SELECT cls, count(*) AS class_total FROM iv GROUP BY 1),
         pr AS (SELECT lang AS cls, count(*) AS n_docs
           FROM documents GROUP BY 1),
         model AS (SELECT tok, cls, ln(count(*) + 1.0) AS lift
           FROM iv GROUP BY tok, cls),
         dl AS (SELECT doc_id, count(*) AS n_tok FROM iv GROUP BY 1),
         base AS (SELECT dl.doc_id, c.cls, dl.n_tok, c.class_total,
             p.n_docs
           FROM dl CROSS JOIN ct c JOIN pr p ON p.cls = c.cls),
         lifts AS (SELECT iv.doc_id, m.cls, sum(m.lift) AS sum_lift
           FROM iv JOIN model m ON iv.tok = m.tok GROUP BY 1, 2),
         scored AS (SELECT b.doc_id, b.cls,
             ln(b.n_docs::DOUBLE) - b.n_tok * ln(b.class_total + 2000.0)
               + COALESCE(l.sum_lift, 0.0) AS score
           FROM base b LEFT JOIN lifts l
             ON l.doc_id = b.doc_id AND l.cls = b.cls),
         pred AS (SELECT doc_id, cls AS predicted FROM (
           SELECT doc_id, cls, row_number() OVER (PARTITION BY doc_id
             ORDER BY score DESC, cls DESC) AS rn FROM scored)
           WHERE rn = 1)
         SELECT d.lang AS actual, p.predicted, count(*) AS n_docs
         FROM documents d JOIN pred p ON d.doc_id = p.doc_id
         GROUP BY 1, 2 ORDER BY actual, predicted""",
    "ml7_logreg_gd" -> logregSql(isBigSql,
      Seq("l_quantity", "l_extendedprice", "l_discount"),
      iters = 3, lr = 0.5),
    "ml8_calibration" -> logregCalibSql(isBigSql,
      Seq("l_quantity", "l_extendedprice", "l_discount"),
      iters = 3, lr = 0.5, bins = 10),
    "ml10_kfold_cv" -> logregCvSql(isBigSql,
      Seq("l_quantity", "l_extendedprice", "l_discount"),
      "(l_orderkey * 7 + l_linenumber) % 3", k = 3, iters = 2, lr = 0.5),
    "ml11_auc" -> logregAucSql(isBigSql,
      Seq("l_quantity", "l_extendedprice", "l_discount"),
      iters = 3, lr = 0.5),
    "ml9_woe_iv" ->
      s"""WITH c AS (SELECT CASE WHEN l_quantity <= 15 THEN 'low'
             WHEN l_quantity <= 35 THEN 'mid' ELSE 'high' END AS value,
           sum($isBigSql) AS n_pos,
           sum(1.0 - $isBigSql) AS n_neg
           FROM lineitem GROUP BY 1),
         t AS (SELECT sum(n_pos) AS tot_pos, sum(n_neg) AS tot_neg FROM c),
         s AS (SELECT value, n_pos, n_neg,
             (n_pos + 0.5) / (tot_pos + 0.5) AS ps,
             (n_neg + 0.5) / (tot_neg + 0.5) AS ns
           FROM c CROSS JOIN t)
         SELECT value, CAST(n_pos AS BIGINT) AS n_pos,
           CAST(n_neg AS BIGINT) AS n_neg,
           round(ln(ps / ns), 6) AS woe,
           round((ps - ns) * ln(ps / ns), 6) AS iv_term
         FROM s ORDER BY value""",
    "w20_ohlc_bars" ->
      """WITH e AS (SELECT event_type, CAST(ts AS DATE) AS day, value,
           (epoch_ms(ts) - 1700000000000) * 10000000
             + event_id % 10000000 AS ok
           FROM events WHERE value IS NOT NULL)
         SELECT event_type, strftime(day, '%Y-%m-%d') AS day, count(*) AS n,
           round(arg_min(value, ok), 4) AS open,
           round(max(value), 4) AS high,
           round(min(value), 4) AS low,
           round(arg_max(value, ok), 4) AS close
         FROM e GROUP BY 1, 2 ORDER BY 1, 2""",
    "dr5_ab_ttest" ->
      """WITH g AS (SELECT event_type,
           count(*) FILTER (user_id % 2 = 0) AS n_a,
           count(*) FILTER (user_id % 2 <> 0) AS n_b,
           avg(value) FILTER (user_id % 2 = 0) AS m_a,
           avg(value) FILTER (user_id % 2 <> 0) AS m_b,
           var_samp(value) FILTER (user_id % 2 = 0) AS v_a,
           var_samp(value) FILTER (user_id % 2 <> 0) AS v_b
           FROM events WHERE value IS NOT NULL GROUP BY 1)
         SELECT event_type, n_a, n_b,
           round(m_a - m_b, 4) AS mean_diff,
           round((m_a - m_b) / sqrt(v_a / n_a + v_b / n_b), 4) AS t_stat,
           round(pow(v_a / n_a + v_b / n_b, 2)
             / (pow(v_a / n_a, 2) / (n_a - 1)
               + pow(v_b / n_b, 2) / (n_b - 1)), 2) AS df_welch,
           abs((m_a - m_b) / sqrt(v_a / n_a + v_b / n_b)) > 1.96
             AS significant
         FROM g ORDER BY event_type""",
    "dq3_fd_violations" ->
      """WITH
         fd AS (
           SELECT 'event_id->user_id' AS fd, count(*) AS d FROM (
             SELECT DISTINCT event_id AS k, user_id AS v FROM events)
             GROUP BY k
           UNION ALL
           SELECT 'user_id->event_type', count(*) FROM (
             SELECT DISTINCT user_id AS k, event_type AS v FROM events)
             GROUP BY k
           UNION ALL
           SELECT 'event_type->user_id', count(*) FROM (
             SELECT DISTINCT event_type AS k, user_id AS v FROM events)
             GROUP BY k)
         SELECT fd, count(*) AS n_keys,
           CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating,
           max(d) AS max_fanout,
           sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) = 0 AS holds
         FROM fd GROUP BY fd ORDER BY fd""",
    "x10_q3_shipping" ->
      """SELECT l_orderkey, o_orderpriority,
           round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
           count(*) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
           AND year(o_orderdate) <= 1997
         JOIN customer ON o_custkey = c_custkey
           AND c_mktsegment = 'BUILDING'
         WHERE l_shipdate > TIMESTAMP '1997-06-30 00:00:00'
         GROUP BY 1, 2 ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "x8_q5_revenue" ->
      """SELECT r_name, n_name, count(*) AS n_items,
           round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
           AND year(o_orderdate) BETWEEN 1996 AND 1997
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "a36_distribution_balance" ->
      """WITH cc AS (SELECT source, lang, count(*) AS c
           FROM documents GROUP BY 1, 2),
         g AS (SELECT source, CAST(sum(c) AS BIGINT) AS n, count(*) AS n_cats,
           sum(c * ln(c)) AS clnc, sum(c * c) AS c2
           FROM cc GROUP BY 1)
         SELECT source, n, n_cats,
           round(ln(n) - clnc / n, 6) AS entropy,
           round(CASE WHEN n_cats = 1 THEN 1.0
             ELSE (ln(n) - clnc / n) / ln(n_cats) END, 6) AS norm_entropy,
           round(c2 / (n * n), 6) AS hhi
         FROM g ORDER BY source""",
    "sql4_scalar_subquery" ->
      """SELECT p_brand, count(*) AS n_small,
           round(sum(l_extendedprice), 2) AS small_revenue
         FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
         WHERE l.l_quantity < (SELECT 0.5 * avg(l_quantity)
           FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)
         GROUP BY 1 ORDER BY 1""",
    "j11_anti_join" ->
      """SELECT c_mktsegment, count(*) AS n_orphans,
           CAST(sum(c_custkey) AS BIGINT) AS id_sum
         FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o
           WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
         GROUP BY 1 ORDER BY c_mktsegment""",
    "j10_nullsafe_join" ->
      """WITH l AS (SELECT CASE WHEN o_custkey % 10 = 0 THEN NULL
             ELSE o_custkey % 97 END AS k, count(*) AS left_cnt
           FROM orders GROUP BY 1),
         r AS (SELECT CASE WHEN c_custkey % 10 = 0 THEN NULL
             ELSE c_custkey % 97 END AS k, count(*) AS right_cnt
           FROM customer GROUP BY 1)
         SELECT COALESCE(l.k, -1) AS key, left_cnt, right_cnt
         FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
         ORDER BY key""",
    "w9_resample_ffill" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
           round(avg(value),4) AS avg_value
           FROM events WHERE value > 240 GROUP BY 1,2),
         b AS (SELECT event_type, min(day) AS d0, max(day) AS d1
           FROM daily GROUP BY 1),
         grid AS (SELECT event_type,
           CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
           FROM b),
         j AS (SELECT g.event_type, g.day, d.avg_value
           FROM grid g LEFT JOIN daily d USING (event_type, day))
         SELECT event_type, strftime(day, '%Y-%m-%d') AS day, avg_value,
           last_value(avg_value IGNORE NULLS) OVER (PARTITION BY event_type
             ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS filled_value,
           avg_value IS NULL AS is_gap
         FROM j ORDER BY event_type, day""",
    "j6_full_outer" ->
      """WITH c AS (SELECT c_custkey FROM customer WHERE c_custkey % 3 = 0),
         o AS (SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 2 = 0),
         f AS (SELECT CASE
             WHEN c_custkey IS NOT NULL AND o_orderkey IS NOT NULL THEN 'matched'
             WHEN o_orderkey IS NULL THEN 'customer_only'
             ELSE 'order_only' END AS side,
           COALESCE(c_custkey, o_custkey) AS k, o_orderkey
           FROM c FULL OUTER JOIN o ON c_custkey = o_custkey)
         SELECT side, count(*) AS cnt, CAST(sum(k) AS BIGINT) AS key_sum,
           CAST(sum(COALESCE(o_orderkey, 0)) AS BIGINT) AS order_sum
         FROM f GROUP BY 1 ORDER BY side""",
    "a7_grouped_stats" ->
      """SELECT l_returnflag, count(*) AS cnt, round(sum(l_extendedprice),0) AS sum_price,
         round(avg(l_extendedprice),4) AS avg_price,
         round(quantile_cont(l_quantity, 0.5),4) AS median_qty,
         round(quantile_cont(l_extendedprice, 0.9),4) AS p90_price
         FROM lineitem GROUP BY 1 ORDER BY l_returnflag""",
    "a10_baseline_ratio" ->
      """SELECT o_orderpriority,
         round(avg(CASE WHEN o_orderdate < DATE '1998-01-01' THEN o_totalprice END),4) AS baseline_avg,
         round(avg(o_totalprice),4) AS overall_avg,
         round(round(avg(o_totalprice),4) /
           round(avg(CASE WHEN o_orderdate < DATE '1998-01-01' THEN o_totalprice END),4) * 100, 4)
           AS pct_of_baseline
         FROM orders GROUP BY 1 ORDER BY o_orderpriority""",
    "a12_median_by_group" ->
      """SELECT event_type, round(quantile_cont(value, 0.5),4) AS median_value,
         count(*) AS cnt FROM events GROUP BY 1 ORDER BY event_type""",
    "a16_segmentation" ->
      """SELECT l_linestatus,
         count(CASE WHEN l_quantity <= 10 THEN 1 END) AS small,
         count(CASE WHEN l_quantity > 10 AND l_quantity <= 25 THEN 1 END) AS medium,
         count(CASE WHEN l_quantity > 25 THEN 1 END) AS large,
         round(min(l_quantity),4) AS min_qty, round(max(l_quantity),4) AS max_qty
         FROM lineitem GROUP BY 1 ORDER BY l_linestatus""",
    "p17_like_filter" ->
      """SELECT p_brand, count(*) AS cnt, round(avg(p_retailprice), 4) AS avg_price
         FROM part WHERE p_name LIKE '%red%' OR p_name LIKE 'blue%'
         GROUP BY 1 ORDER BY p_brand""",
    "a17_value_counts_topk" ->
      """SELECT p_brand, count(*) AS cnt FROM part GROUP BY 1
         ORDER BY cnt DESC, p_brand LIMIT 10""",
    "a18_histogram" ->
      """SELECT CAST(floor(l_extendedprice / 5000) AS BIGINT) AS bin, count(*) AS cnt
         FROM lineitem GROUP BY 1 ORDER BY bin""",
    "a19_revenue_pivot" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
         round(sum(CASE WHEN o_orderstatus='F' THEN o_totalprice END),0) AS F,
         round(sum(CASE WHEN o_orderstatus='O' THEN o_totalprice END),0) AS O,
         round(sum(CASE WHEN o_orderstatus='P' THEN o_totalprice END),0) AS P
         FROM orders GROUP BY 1 ORDER BY o_year""",
    "a21_corr_slope" ->
      """SELECT l_returnflag, round(corr(l_quantity, l_extendedprice),6) AS r,
         round(covar_samp(l_quantity, l_extendedprice) / var_samp(l_quantity),4) AS ols_slope
         FROM lineitem GROUP BY 1 ORDER BY l_returnflag""",
    "sql1_segment_priority" ->
      """SELECT c_mktsegment, o_orderpriority, count(*) AS cnt,
           round(sum(o_totalprice), 0) AS total
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "u2_snapshot_diff" ->
      """WITH o AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
           WHERE o_orderkey % 7 != 0),
         n AS (SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderkey % 3 = 0 THEN round(o_totalprice * 1.1, 2)
                ELSE o_totalprice END AS o_totalprice
           FROM orders WHERE o_orderkey % 5 != 0),
         d AS (SELECT coalesce(o.o_orderkey, n.o_orderkey) AS k,
           CASE WHEN o.o_orderkey IS NULL THEN 'added'
                WHEN n.o_orderkey IS NULL THEN 'removed'
                WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                  OR o.o_totalprice IS DISTINCT FROM n.o_totalprice THEN 'changed'
           END AS status
           FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey)
         SELECT status, count(*) AS cnt FROM d WHERE status IS NOT NULL
         GROUP BY 1 ORDER BY status""",
    "u5_scd2_history" ->
      """WITH e AS (SELECT o_custkey AS k, o_orderdate AS ts,
             o_orderpriority AS attr, o_orderkey AS tb
           FROM orders WHERE o_custkey < 100),
         l AS (SELECT k, ts, attr, tb,
             lag(attr) OVER (PARTITION BY k ORDER BY ts, tb) AS prev FROM e),
         s AS (SELECT k, ts, attr, tb FROM l
           WHERE prev IS NULL OR attr IS DISTINCT FROM prev),
         v AS (SELECT k, attr, ts AS valid_from,
             row_number() OVER (PARTITION BY k ORDER BY ts, tb) AS version,
             lead(ts) OVER (PARTITION BY k ORDER BY ts, tb) AS valid_to
           FROM s)
         SELECT k AS o_custkey, attr AS o_orderpriority, version,
           valid_from, valid_to, valid_to IS NULL AS is_current
         FROM v ORDER BY o_custkey, version""",
    "u9_scd2_prune" ->
      """WITH e AS (SELECT o_custkey AS k, o_orderdate AS ts,
             o_orderpriority AS attr, o_orderkey AS tb
           FROM orders WHERE o_custkey < 100),
         l AS (SELECT k, ts, attr, tb,
             lag(attr) OVER (PARTITION BY k ORDER BY ts, tb) AS prev FROM e),
         s AS (SELECT k, ts, attr, tb FROM l
           WHERE prev IS NULL OR attr IS DISTINCT FROM prev),
         v AS (SELECT k, attr, ts AS valid_from,
             lead(ts) OVER (PARTITION BY k ORDER BY ts, tb) AS valid_to
           FROM s),
         kept AS (SELECT k, attr,
             greatest(valid_from, TIMESTAMP '1997-01-01 00:00:00')
               AS valid_from,
             valid_to, valid_to IS NULL AS is_current
           FROM v WHERE valid_to IS NULL
             OR valid_to > TIMESTAMP '1997-01-01 00:00:00')
         SELECT k AS o_custkey, attr AS o_orderpriority,
           row_number() OVER (PARTITION BY k ORDER BY valid_from)
             AS version,
           valid_from, valid_to, is_current
         FROM kept ORDER BY o_custkey, version""",
    "w23_cumulative_users" ->
      """WITH fs AS (SELECT user_id, min(CAST(ts AS DATE)) AS day
           FROM events WHERE value > 150 GROUP BY 1),
         nu AS (SELECT day, count(*) AS new_users FROM fs GROUP BY 1)
         SELECT strftime(day, '%Y-%m-%d') AS day, new_users,
           CAST(sum(new_users) OVER (ORDER BY day) AS BIGINT) AS cum_users
         FROM nu ORDER BY day""",
    "u8_scd2_late_merge" ->
      """WITH e AS (SELECT o_custkey AS k, o_orderdate AS ts,
             o_orderpriority AS attr, o_orderkey AS tb
           FROM orders WHERE o_custkey < 100
             AND (o_orderkey % 13 <> 0 OR o_custkey % 5 = 0)),
         l AS (SELECT k, ts, attr, tb,
             lag(attr) OVER (PARTITION BY k ORDER BY ts, tb) AS prev FROM e),
         s AS (SELECT k, ts, attr, tb FROM l
           WHERE prev IS NULL OR attr IS DISTINCT FROM prev),
         v AS (SELECT k, attr, ts AS valid_from,
             row_number() OVER (PARTITION BY k ORDER BY ts, tb) AS version,
             lead(ts) OVER (PARTITION BY k ORDER BY ts, tb) AS valid_to
           FROM s)
         SELECT k AS o_custkey, attr AS o_orderpriority, version,
           valid_from, valid_to, valid_to IS NULL AS is_current
         FROM v ORDER BY o_custkey, version""",
    "u7_scd2_asof" ->
      """WITH e AS (SELECT o_custkey AS k, o_orderdate AS ts,
             o_orderpriority AS attr, o_orderkey AS tb
           FROM orders WHERE o_custkey < 100),
         l AS (SELECT k, ts, attr, tb,
             lag(attr) OVER (PARTITION BY k ORDER BY ts, tb) AS prev FROM e),
         s AS (SELECT k, ts, attr, tb FROM l
           WHERE prev IS NULL OR attr IS DISTINCT FROM prev),
         v AS (SELECT k, attr, ts AS valid_from,
             row_number() OVER (PARTITION BY k ORDER BY ts, tb) AS version,
             lead(ts) OVER (PARTITION BY k ORDER BY ts, tb) AS valid_to
           FROM s)
         SELECT k AS o_custkey, attr AS o_orderpriority, version, valid_from
         FROM v
         WHERE valid_from <= TIMESTAMP '1995-06-15 00:00:00'
           AND (valid_to IS NULL OR valid_to > TIMESTAMP '1995-06-15 00:00:00')
         ORDER BY o_custkey""",
    "io7_summary_sink" ->
      """SELECT source, lang, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS chars
         FROM documents GROUP BY source, lang
         ORDER BY source, lang NULLS FIRST""",
    "sc1_schema_compare" ->
      """WITH c AS (SELECT table_name, column_name
           FROM information_schema.columns
           WHERE table_name IN ('orders', 'customer', 'lineitem')),
         n AS (SELECT column_name, count(DISTINCT table_name) AS k
           FROM c GROUP BY 1)
         SELECT table_name, column_name, 'only' AS status
           FROM c JOIN n USING (column_name) WHERE k = 1
         UNION ALL
         SELECT '*' AS table_name, column_name, 'common' AS status
           FROM n WHERE k = 3
         ORDER BY table_name, column_name""",
    "j9_interval_overlap" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ms(ts) AS ms FROM events),
         l AS (SELECT event_id AS l_id, ms AS ls,
             ms + (event_id % 7 + 1) * 60000 AS le FROM e WHERE user_id < 5),
         r AS (SELECT event_id AS r_id, ms AS rs,
             ms + (event_id % 11 + 1) * 60000 AS re
           FROM e WHERE user_id BETWEEN 5 AND 9)
         SELECT l_id, ls, le, r_id, rs, re
         FROM l JOIN r ON ls <= re AND rs <= le
         ORDER BY l_id, r_id""",
    "a29_cms_estimates" ->
      s"""WITH base AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events
           WHERE user_id IS NOT NULL),
         ds AS (SELECT unnest([0, 1, 2, 3]) AS d),
         sk AS (SELECT d,
             ${fnvSql("CAST(d AS VARCHAR) || ':' || k", 2166136261L)} % 256
               AS bucket, count(*) AS cnt
           FROM base CROSS JOIN ds GROUP BY 1, 2),
         probes AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS k
           FROM events WHERE user_id BETWEEN 1 AND 10),
         pe AS (SELECT k, d,
             ${fnvSql("CAST(d AS VARCHAR) || ':' || k", 2166136261L)} % 256
               AS bucket
           FROM probes CROSS JOIN ds),
         est AS (SELECT pe.k, min(coalesce(sk.cnt, 0)) AS est
           FROM pe LEFT JOIN sk USING (d, bucket) GROUP BY 1),
         ex AS (SELECT CAST(user_id AS VARCHAR) AS k, count(*) AS exact_cnt
           FROM events WHERE user_id BETWEEN 1 AND 10 GROUP BY 1)
         SELECT CAST(est.k AS BIGINT) AS user_id, est.est AS est,
           ex.exact_cnt, est.est >= ex.exact_cnt AS never_under
         FROM est JOIN ex ON est.k = ex.k
         ORDER BY user_id""",
    "u6_scd2_temporal_join" ->
      """WITH e AS (SELECT o_custkey AS k, o_orderdate AS ts,
             o_orderpriority AS attr, o_orderkey AS tb
           FROM orders WHERE o_custkey < 50),
         l AS (SELECT k, ts, attr, tb,
             lag(attr) OVER (PARTITION BY k ORDER BY ts, tb) AS prev FROM e),
         s AS (SELECT k, ts, attr, tb FROM l
           WHERE prev IS NULL OR attr IS DISTINCT FROM prev),
         v AS (SELECT k, attr, ts AS valid_from,
             row_number() OVER (PARTITION BY k ORDER BY ts, tb) AS version,
             lead(ts) OVER (PARTITION BY k ORDER BY ts, tb) AS valid_to
           FROM s)
         SELECT o.o_orderkey, o.o_custkey, v.attr AS o_orderpriority, v.version
         FROM orders o JOIN v ON o.o_custkey = v.k
           AND o.o_orderdate >= v.valid_from
           AND (v.valid_to IS NULL OR o.o_orderdate < v.valid_to)
         WHERE o.o_custkey < 50
         ORDER BY o_orderkey""",
    "ix1_zone_map" ->
      """WITH v AS (SELECT CAST(l_orderkey AS DOUBLE) AS l,
           CAST(l_extendedprice AS DOUBLE) AS c FROM lineitem
           WHERE l_orderkey IS NOT NULL AND l_extendedprice IS NOT NULL),
         mm AS (SELECT min(l) AS mn, max(l) AS mx FROM v),
         z AS (SELECT CASE WHEN mx = mn THEN 0
             ELSE least(CAST(floor((l - mn) / ((mx - mn) / 32)) AS BIGINT), 31)
             END AS zone, c FROM v, mm)
         SELECT zone, count(*) AS n_rows, round(min(c), 4) AS stat_min,
           round(max(c), 4) AS stat_max
         FROM z GROUP BY 1 ORDER BY zone""",
    "ix2_zone_skip" ->
      """WITH v AS (SELECT CAST(l_orderkey AS DOUBLE) AS l,
           CAST(l_extendedprice AS DOUBLE) AS c FROM lineitem
           WHERE l_orderkey IS NOT NULL AND l_extendedprice IS NOT NULL),
         mm AS (SELECT min(l) AS mn, max(l) AS mx FROM v),
         z AS (SELECT CASE WHEN mx = mn THEN 0
             ELSE least(CAST(floor((l - mn) / ((mx - mn) / 32)) AS BIGINT), 31)
             END AS zone, c FROM v, mm),
         zm AS (SELECT zone, count(*) AS n_rows, min(c) AS smin,
           max(c) AS smax FROM z GROUP BY 1),
         kept AS (SELECT count(*) AS zones_scanned,
           CAST(COALESCE(sum(n_rows), 0) AS BIGINT) AS rows_scanned
           FROM zm WHERE smax >= 1000.0 AND smin <= 6000.0),
         tot AS (SELECT count(*) AS zones_total,
           CAST(sum(n_rows) AS BIGINT) AS rows_total FROM zm)
         SELECT zones_total, zones_scanned, rows_total, rows_scanned,
           round(rows_scanned / (1.0 * rows_total), 6) AS scan_fraction
         FROM tot, kept""",
    "iv1_incremental_agg" ->
      """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
         ch AS (
           SELECT o_orderkey, 'delete' AS op, NULL AS o_orderstatus,
             NULL::DOUBLE AS o_totalprice FROM base WHERE o_orderkey % 5 = 0
           UNION ALL
           SELECT o_orderkey, 'upsert', o_orderstatus, round(o_totalprice * 1.2, 2)
           FROM base WHERE o_orderkey % 5 != 0 AND o_orderkey % 7 = 0
           UNION ALL
           SELECT o_orderkey + 10000000, 'upsert', 'N', 100.0
           FROM base WHERE o_orderkey % 11 = 0),
         merged AS (
           SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM ch)
           UNION ALL
           SELECT o_orderkey, o_orderstatus, o_totalprice FROM ch WHERE op = 'upsert')
         SELECT o_orderstatus, count(*) AS cnt,
           round(sum(o_totalprice), 0) AS val_sum
         FROM merged GROUP BY 1 ORDER BY o_orderstatus""",
    "u4_merge_apply" ->
      """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
         ch AS (
           SELECT o_orderkey, 'delete' AS op, NULL AS o_orderstatus,
             NULL::DOUBLE AS o_totalprice FROM base WHERE o_orderkey % 5 = 0
           UNION ALL
           SELECT o_orderkey, 'upsert', o_orderstatus, round(o_totalprice * 1.2, 2)
           FROM base WHERE o_orderkey % 5 != 0 AND o_orderkey % 7 = 0
           UNION ALL
           SELECT o_orderkey + 10000000, 'upsert', 'N', 100.0
           FROM base WHERE o_orderkey % 11 = 0),
         merged AS (
           SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM ch)
           UNION ALL
           SELECT o_orderkey, o_orderstatus, o_totalprice FROM ch WHERE op = 'upsert')
         SELECT o_orderstatus, count(*) AS cnt,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
           round(sum(o_totalprice), 0) AS total
         FROM merged GROUP BY 1 ORDER BY o_orderstatus""",
    "u1_union_by_name" ->
      """SELECT 'customer' AS kind, c_custkey AS id, c_name AS name, c_acctbal AS acctbal,
         c_mktsegment AS segment FROM customer
         UNION ALL
         SELECT 'supplier' AS kind, s_suppkey AS id, s_name AS name, s_acctbal AS acctbal,
         NULL AS segment FROM supplier
         ORDER BY kind, id""",
    "j1_join_segment" ->
      """SELECT c_mktsegment, count(*) AS cnt, round(sum(o_totalprice),0) AS total
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1 ORDER BY c_mktsegment""",
    // the bucketed layout must change the PLAN (no Exchange), never the
    // ANSWER — pinned to the identical plain-join aggregate
    "b1_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS cnt, round(sum(o_totalprice),0) AS total
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1 ORDER BY c_mktsegment""",
    "j2_snowflake_dims" ->
      """SELECT r_name, count(*) AS cnt, round(avg(c_acctbal),4) AS avg_acctbal
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY 1 ORDER BY r_name""",
    "j3_semi_topk" ->
      """WITH topk AS (SELECT o_custkey FROM orders GROUP BY 1
           ORDER BY count(*) DESC, o_custkey LIMIT 5)
         SELECT o_custkey, count(*) AS cnt, round(sum(o_totalprice),0) AS total
         FROM orders WHERE o_custkey IN (SELECT o_custkey FROM topk)
         GROUP BY 1 ORDER BY o_custkey""",
    "j5_salted_join" ->
      """SELECT c_mktsegment, count(*) AS cnt, round(sum(o_totalprice),0) AS total
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1 ORDER BY c_mktsegment""",
    "a25_salted_agg" ->
      """SELECT l_returnflag, count(*) AS cnt, round(sum(l_quantity),0) AS total
         FROM lineitem GROUP BY 1 ORDER BY l_returnflag""",
    "j4_range_join" ->
      """WITH err AS (SELECT event_id AS err_id, ts AS start_ts,
           ts + INTERVAL 1 HOUR AS end_ts FROM events WHERE event_type = 'error'),
         clk AS (SELECT ts FROM events WHERE event_type = 'click')
         SELECT err_id, count(*) AS n_clicks
         FROM err JOIN clk ON clk.ts >= err.start_ts AND clk.ts <= err.end_ts
         GROUP BY 1 ORDER BY err_id""",
    "w1_rank_per_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
           FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""",
    "w2_lag_deltas" ->
      """SELECT user_id, round(avg(delta),4) AS avg_delta, count(delta) AS cnt FROM (
           SELECT user_id, value - lag(value) OVER
             (PARTITION BY user_id ORDER BY event_id) AS delta FROM events)
         GROUP BY 1 ORDER BY user_id""",
    "w3_rolling_avg" ->
      """WITH daily AS (SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
           round(sum(o_totalprice),0) AS total FROM orders GROUP BY 1)
         SELECT day, total, round(avg(total) OVER (ORDER BY day
           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),4) AS avg7
         FROM daily ORDER BY day""",
    "a15_daily_zscore" ->
      """WITH daily AS (SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS cnt
           FROM events GROUP BY 1)
         SELECT day, cnt,
           round((cnt - avg(cnt) OVER ()) / stddev(cnt) OVER (),4) AS z,
           CASE WHEN z < -1.5 THEN 'Low' WHEN z > 1.5 THEN 'High'
                ELSE 'Normal' END AS bucket
         FROM daily ORDER BY day""",
    "w4_asof_join" ->
      """WITH u AS (
           SELECT user_id, ts, event_id, 1 AS side, NULL AS v
             FROM events WHERE event_type = 'error'
           UNION ALL
           SELECT user_id, ts, event_id, 0 AS side, value AS v
             FROM events WHERE event_type = 'click'),
         lastv AS (SELECT event_id, side, user_id,
           last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
             ORDER BY ts, side, event_id ROWS UNBOUNDED PRECEDING) AS v
           FROM u)
         SELECT event_id, user_id, round(v, 4) AS last_click_value
         FROM lastv WHERE side = 1 ORDER BY event_id""",
    "w12_asof_chunked" ->
      """WITH u AS (
           SELECT user_id, ts, event_id, 1 AS side, NULL AS v
             FROM events WHERE event_type = 'error'
           UNION ALL
           SELECT user_id, ts, event_id, 0 AS side, value AS v
             FROM events WHERE event_type = 'click'),
         lastv AS (SELECT event_id, side, user_id,
           last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
             ORDER BY ts, side, event_id ROWS UNBOUNDED PRECEDING) AS v
           FROM u)
         SELECT event_id, user_id, round(v, 4) AS last_click_value
         FROM lastv WHERE side = 1 ORDER BY event_id""",
    "w6_asof_forward" ->
      """WITH u AS (
           SELECT user_id, ts, event_id, 0 AS side, NULL AS v
             FROM events WHERE event_type = 'error'
           UNION ALL
           SELECT user_id, ts, event_id, 1 AS side, value AS v
             FROM events WHERE event_type = 'click'),
         nextv AS (SELECT event_id, side, user_id,
           first_value(v IGNORE NULLS) OVER (PARTITION BY user_id
             ORDER BY ts, side, event_id
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v
           FROM u)
         SELECT event_id, user_id, round(v, 4) AS next_click_value
         FROM nextv WHERE side = 0 ORDER BY event_id""",
    "w13_asof_forward_chunked" ->
      """WITH u AS (
           SELECT user_id, ts, event_id, 0 AS side, NULL AS v
             FROM events WHERE event_type = 'error'
           UNION ALL
           SELECT user_id, ts, event_id, 1 AS side, value AS v
             FROM events WHERE event_type = 'click'),
         nextv AS (SELECT event_id, side, user_id,
           first_value(v IGNORE NULLS) OVER (PARTITION BY user_id
             ORDER BY ts, side, event_id
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v
           FROM u)
         SELECT event_id, user_id, round(v, 4) AS next_click_value
         FROM nextv WHERE side = 0 ORDER BY event_id""",
    "st2_sessionize" ->
      """WITH flagged AS (SELECT user_id, event_id,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
                THEN 1 ELSE 0 END AS new_session
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
         sess AS (SELECT user_id, sum(new_session) OVER (PARTITION BY user_id
           ORDER BY event_id ROWS UNBOUNDED PRECEDING) AS session_id FROM flagged),
         counts AS (SELECT user_id, session_id, count(*) AS n FROM sess GROUP BY 1,2)
         SELECT user_id, count(*) AS n_sessions, round(avg(n),4) AS avg_session_events,
           max(n) AS max_session_events
         FROM counts GROUP BY 1 ORDER BY user_id""",
    "st9_stream_session_window" ->
      """WITH flagged AS (SELECT user_id, ts, value,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
                THEN 1 ELSE 0 END AS ns
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         sess AS (SELECT user_id, ts, value, sum(ns) OVER (PARTITION BY user_id
           ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM flagged)
         SELECT user_id, CAST(min(ts) AS TIMESTAMP) AS session_start,
           count(*) AS n_events, round(sum(value), 4) AS value_sum
         FROM sess GROUP BY user_id, sid ORDER BY user_id, session_start""",
    "w5_funnel" ->
      """WITH f AS (SELECT user_id, min(ts) AS first_from FROM events
           WHERE event_type = 'click' GROUP BY 1),
         c AS (SELECT e.user_id, min(e.ts) AS first_to
           FROM events e JOIN f ON e.user_id = f.user_id
           WHERE e.event_type = 'purchase' AND e.ts >= f.first_from GROUP BY 1)
         SELECT CAST(hour(first_from) AS INT) AS cohort_hour,
           count(*) AS n_users, count(first_to) AS n_converted,
           round(avg((epoch_ms(first_to) - epoch_ms(first_from)) / 60000.0), 4)
             AS avg_minutes_to_convert
         FROM f LEFT JOIN c ON f.user_id = c.user_id
         GROUP BY 1 ORDER BY cohort_hour""",
    "st1_windowed_counts" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, event_type,
         count(*) AS cnt FROM events GROUP BY 1,2 ORDER BY window_start, event_type""",
    "st3_stream_dedup" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
         count(DISTINCT user_id) AS n_rows
         FROM events GROUP BY 1 ORDER BY event_type""",
    "st4_stream_windowed" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, event_type,
         count(*) AS cnt FROM events GROUP BY 1,2 ORDER BY window_start, event_type""",
    "st5_stream_join" ->
      """WITH e AS (SELECT event_id AS eid, user_id AS u, ts AS et
           FROM events WHERE event_type = 'error'),
         c AS (SELECT event_id AS cid, user_id AS u, ts AS ct
           FROM events WHERE event_type = 'click')
         SELECT count(*) AS n_pairs, CAST(sum(eid) AS BIGINT) AS err_id_sum,
           CAST(sum(cid) AS BIGINT) AS clk_id_sum,
           count(DISTINCT u) AS n_users
         FROM e JOIN c USING (u)
         WHERE ct >= et - INTERVAL 1 HOUR AND ct <= et""",
    "st6_stream_static_join" ->
      """SELECT c_mktsegment, count(*) AS n_events,
           CAST(sum(event_id) AS BIGINT) AS event_id_sum,
           round(sum(value), 4) AS value_sum
         FROM events e JOIN customer c ON e.user_id = c.c_custkey
         GROUP BY 1 ORDER BY c_mktsegment""",
    "st7_stream_curated_sink" ->
      """SELECT event_type, count(*) AS n_events,
           CAST(sum(event_id) AS BIGINT) AS id_sum,
           count(CASE WHEN value IS NULL THEN 1 END) AS n_null_value
         FROM events GROUP BY event_type ORDER BY event_type""",
    "st10_stream_upsert" ->
      """WITH r AS (SELECT *, row_number() OVER (PARTITION BY user_id
             ORDER BY ts DESC, event_id DESC) AS rn
           FROM events)
         SELECT user_id, event_id AS last_event_id,
           event_type AS last_type, round(value, 4) AS last_value
         FROM r WHERE rn = 1 ORDER BY user_id""",
    "io11_sorted_layout_stats" ->
      """SELECT event_type, 1 AS n_files, count(*) AS n_rows,
           min(epoch_ms(ts) // 1000) AS min_ts_sec,
           max(epoch_ms(ts) // 1000) AS max_ts_sec
         FROM events GROUP BY 1 ORDER BY event_type""",
    "st11_stream_topk" ->
      """WITH r AS (SELECT event_type, event_id, value,
           row_number() OVER (PARTITION BY event_type
             ORDER BY value DESC, event_id) AS rank
           FROM events)
         SELECT event_type, rank, event_id, value
         FROM r WHERE rank <= 3 ORDER BY event_type, rank""",
    "ml2_iqr_anomalies" ->
      """WITH bounds AS (SELECT event_type,
           quantile_cont(value, 0.25) AS q1, quantile_cont(value, 0.75) AS q3
           FROM events GROUP BY 1),
         b2 AS (SELECT event_type, q1 - (q3-q1)*1.5 AS lo, q3 + (q3-q1)*1.5 AS hi FROM bounds)
         SELECT e.event_type, count(*) AS cnt,
           count(CASE WHEN e.value < b2.lo OR e.value > b2.hi THEN 1 END) AS n_anomalies,
           round(any_value(b2.lo),4) AS lo, round(any_value(b2.hi),4) AS hi
         FROM events e JOIN b2 ON e.event_type = b2.event_type
         GROUP BY 1 ORDER BY e.event_type""",
    "io9_quarantine_route" ->
      """WITH t AS (SELECT event_id,
           CASE WHEN value IS NULL THEN 'not_null(value)' END AS r1,
           CASE WHEN value IS NOT NULL AND (value < 0.0 OR value > 140.0)
             THEN 'in_range(value,0.0,140.0)' END AS r2
           FROM events),
         s AS (SELECT event_id,
           CASE WHEN r1 IS NULL AND r2 IS NULL THEN 'good'
             ELSE concat_ws(',', r1, r2) END AS status FROM t)
         SELECT status, count(*) AS n_rows,
           CAST(sum(event_id) AS BIGINT) AS id_sum
         FROM s GROUP BY 1 ORDER BY status""",
    "a31_mad_outliers" ->
      """WITH m AS (SELECT event_type, quantile_cont(value, 0.5) AS med
           FROM events GROUP BY 1),
         d AS (SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS ad
           FROM events e JOIN m USING (event_type)),
         md AS (SELECT event_type, quantile_cont(ad, 0.5) AS mad FROM d GROUP BY 1),
         z AS (SELECT d.event_type, d.med, md.mad,
             CASE WHEN md.mad = 0 THEN 0
               ELSE 0.6745 * (d.value - d.med) / md.mad END AS zz
           FROM d JOIN md USING (event_type))
         SELECT event_type, count(*) AS cnt, round(max(med), 4) AS med,
           round(max(mad), 4) AS mad,
           count(CASE WHEN abs(zz) > 3.5 THEN 1 END) AS n_flagged,
           round(max(abs(zz)), 4) AS max_abs_score
         FROM z GROUP BY 1 ORDER BY event_type""",
    "g7_kcore" -> kcoreSql(ks = Seq(2, 5), rounds = 6),
    "g3_triangle_count" ->
      """WITH e0 AS (SELECT DISTINCT
           least(o_custkey % 500, o_orderkey % 499) AS a,
           greatest(o_custkey % 500, o_orderkey % 499) AS b
           FROM orders WHERE o_custkey % 500 <> o_orderkey % 499),
         deg AS (SELECT n, count(*) AS d FROM
           (SELECT a AS n FROM e0 UNION ALL SELECT b AS n FROM e0)
           GROUP BY 1),
         tri AS (SELECT count(*) AS t FROM e0 e1
           JOIN e0 e2 ON e2.a = e1.a AND e2.b > e1.b
           JOIN e0 e3 ON e3.a = e1.b AND e3.b = e2.b),
         sh AS (SELECT count(*) AS n_edges FROM e0),
         nd AS (SELECT count(*) AS n_nodes,
           CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges FROM deg)
         SELECT n_nodes, n_edges, n_wedges, CAST(t AS BIGINT) AS n_triangles,
           CASE WHEN n_wedges > 0 THEN round(3.0 * t / n_wedges, 6)
             ELSE 0.0 END AS clustering
         FROM sh, nd, tri""",
    "g4_local_clustering" ->
      """WITH e0 AS (SELECT DISTINCT
           least(o_custkey % 500, o_orderkey % 499) AS a,
           greatest(o_custkey % 500, o_orderkey % 499) AS b
           FROM orders WHERE o_custkey % 500 <> o_orderkey % 499),
         deg AS (SELECT n, count(*) AS d FROM
           (SELECT a AS n FROM e0 UNION ALL SELECT b AS n FROM e0)
           GROUP BY 1),
         tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM e0 e1
           JOIN e0 e2 ON e2.a = e1.a AND e2.b > e1.b
           JOIN e0 e3 ON e3.a = e1.b AND e3.b = e2.b),
         corners AS (SELECT unnest([x, y, z]) AS node FROM tri),
         pc AS (SELECT node, count(*) AS t FROM corners GROUP BY 1)
         SELECT deg.n AS node, deg.d AS degree,
           COALESCE(pc.t, 0) AS n_triangles,
           CASE WHEN deg.d >= 2
             THEN round(2.0 * COALESCE(pc.t, 0) / (deg.d * (deg.d - 1)), 6)
             ELSE 0.0 END AS coeff
         FROM deg LEFT JOIN pc ON pc.node = deg.n
         ORDER BY node""",
    "mb1_brand_pairs" ->
      """WITH b AS (SELECT DISTINCT l.l_orderkey AS bk, p.p_brand AS item
           FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
         nb AS (SELECT count(DISTINCT bk) AS n_baskets FROM b),
         m AS (SELECT item, count(*) AS n_item FROM b GROUP BY 1),
         pr AS (SELECT b1.item AS item_a, b2.item AS item_b,
             count(*) AS n_both
           FROM b b1 JOIN b b2 ON b1.bk = b2.bk AND b1.item < b2.item
           GROUP BY 1, 2)
         SELECT item_a, item_b, n_both,
           round(n_both / nb.n_baskets, 6) AS support,
           round(n_both / ma.n_item, 6) AS confidence,
           round(n_both * nb.n_baskets / (ma.n_item * m2.n_item), 4) AS lift
         FROM pr
         JOIN m ma ON ma.item = pr.item_a
         JOIN m m2 ON m2.item = pr.item_b
         CROSS JOIN nb
         ORDER BY item_a, item_b""",
    "e3_covariance_matrix" ->
      """WITH a AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
           CAST(unnest(embedding) AS DOUBLE) AS x
           FROM embeddings)
         SELECT CAST(s1.i AS BIGINT) AS i, CAST(s2.i AS BIGINT) AS j,
           round(covar_pop(s1.x, s2.x), 6) AS cov
         FROM a s1 JOIN a s2 ON s1.vec_id = s2.vec_id AND s1.i <= s2.i
         GROUP BY 1, 2 ORDER BY i, j""",
    "e5_pca_invariants" ->
      """WITH a AS (SELECT generate_subscripts(embedding, 1) AS i,
           CAST(unnest(embedding) AS DOUBLE) AS x
           FROM embeddings),
         v AS (SELECT i, var_pop(x) AS vv FROM a GROUP BY 1)
         SELECT * FROM (
           SELECT 'd' AS stat, 64.0 AS value
           UNION ALL SELECT 'evals_nonincreasing', 1.0
           UNION ALL SELECT 'evals_nonneg', 1.0
           UNION ALL SELECT 'evals_sum', round(sum(vv), 6) FROM v
           UNION ALL SELECT 'orthonormal_err_lt_1e9', 1.0
           UNION ALL SELECT 'proj_var0_matches_eval0', 1.0)
         ORDER BY stat""",
    "t21_pmi_phrases" ->
      s"""WITH tk AS (SELECT $toks AS t FROM documents),
         uc AS (SELECT w, count(*) AS cw FROM
           (SELECT unnest(t) AS w FROM tk) GROUP BY 1),
         nu AS (SELECT CAST(sum(cw) AS BIGINT) AS n_uni FROM uc),
         bc AS (SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS cab FROM
           (SELECT unnest(list_transform(range(0, len(t) - 1),
              i -> struct_pack(w1 := t[i+1], w2 := t[i+2]))) AS p
            FROM tk WHERE len(t) >= 2) GROUP BY 1, 2),
         nb AS (SELECT CAST(sum(cab) AS BIGINT) AS n_bi FROM bc),
         sc AS (SELECT w1, w2, cab, u1.cw AS c1, u2.cw AS c2,
             ln((cab / (1.0 * n_bi))
               / ((u1.cw / (1.0 * n_uni)) * (u2.cw / (1.0 * n_uni))))
               AS pmi_raw
           FROM bc JOIN uc u1 ON bc.w1 = u1.w
           JOIN uc u2 ON bc.w2 = u2.w
           CROSS JOIN nb CROSS JOIN nu
           WHERE cab >= 5)
         SELECT w1 || ' ' || w2 AS bigram, CAST(cab AS BIGINT) AS cab,
           CAST(c1 AS BIGINT) AS c1, CAST(c2 AS BIGINT) AS c2,
           round(pmi_raw, 6) AS pmi
         FROM sc ORDER BY pmi_raw DESC, w1, w2 LIMIT 20""",
    "dr1_ks_drift" ->
      """WITH two AS (SELECT value AS v,
           CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ia,
           CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS ib
           FROM events WHERE event_type IN ('click', 'view')
             AND value IS NOT NULL),
         bv AS (SELECT v, CAST(sum(ia) AS BIGINT) AS ca,
             CAST(sum(ib) AS BIGINT) AS cb FROM two GROUP BY 1),
         t AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
             CAST(sum(cb) AS BIGINT) AS n_b FROM bv),
         c AS (SELECT sum(ca) OVER (ORDER BY v) AS cum_a,
             sum(cb) OVER (ORDER BY v) AS cum_b FROM bv)
         SELECT 'click' AS group_a, 'view' AS group_b, n_a, n_b,
           round(max(abs(cum_a / (1.0 * n_a) - cum_b / (1.0 * n_b))), 6)
             AS ks_stat
         FROM c, t GROUP BY 1, 2, 3, 4""",
    "dr2_psi_drift" ->
      """WITH v AS (SELECT source AS g, CAST(n_chars AS DOUBLE) AS v
           FROM documents WHERE n_chars IS NOT NULL),
         mm AS (SELECT min(v) AS mn, max(v) AS mx FROM v),
         bn AS (SELECT g, CASE WHEN mx = mn THEN 0
             ELSE least(CAST(floor((v - mn) / ((mx - mn) / 16)) AS BIGINT), 15)
             END AS b FROM v, mm),
         c AS (SELECT g, b, count(*) AS n FROM bn GROUP BY 1, 2),
         grid AS (SELECT dg.g, gs.b FROM (SELECT DISTINCT g FROM c) dg,
           (SELECT unnest(range(0, 16)) AS b) gs),
         f AS (SELECT grid.g, grid.b, COALESCE(c.n, 0) AS n
           FROM grid LEFT JOIN c ON grid.g = c.g AND grid.b = c.b),
         t AS (SELECT g, sum(n) AS nt FROM f GROUP BY 1),
         p AS (SELECT f.g, f.b, (f.n + 0.5) / (t.nt + 8.0) AS p, t.nt
           FROM f JOIN t ON f.g = t.g),
         base AS (SELECT b, p AS pb FROM p WHERE g = 'src0')
         SELECT p.g AS source, CAST(max(nt) AS BIGINT) AS n,
           round(sum((p - pb) * ln(p / pb)), 6) AS psi
         FROM p JOIN base USING (b) WHERE p.g <> 'src0'
         GROUP BY 1 ORDER BY 1""",
    "dr3_chisq_independence" ->
      """WITH o AS (SELECT source AS a, lang AS b, count(*) AS o
           FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL
           GROUP BY 1, 2),
         ra AS (SELECT a, sum(o) AS na FROM o GROUP BY 1),
         cb AS (SELECT b, sum(o) AS nb FROM o GROUP BY 1),
         t AS (SELECT sum(o) AS n FROM o),
         cells AS (SELECT ra.a, cb.b, COALESCE(o.o, 0) AS o,
             (1.0 * na) * nb / n AS e, n
           FROM ra CROSS JOIN cb
           LEFT JOIN o ON o.a = ra.a AND o.b = cb.b
           CROSS JOIN t)
         SELECT CAST(max(n) AS BIGINT) AS n,
           CAST((count(DISTINCT a) - 1) * (count(DISTINCT b) - 1) AS BIGINT)
             AS dof,
           round(sum(pow(o - e, 2) / e), 4) AS chi2
         FROM cells""",
    "a32_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
         round(sum(l_quantity), 0) AS sum_qty FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
           (l_linestatus), ())
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
    "r4_group_weighted_sample" ->
      s"""WITH m AS (SELECT doc_id, source,
           round((least(len($toks) / 50.0, 1.0)
             + (1.0 - least((CASE WHEN length(text) > 0
                 THEN (length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')))::DOUBLE / length(text)
                 ELSE 0 END) * 5.0, 1.0))
             + least((CASE WHEN len($toks) > 0
                 THEN len(list_filter($toks, x -> x IN $stop))::DOUBLE / len($toks)
                 ELSE 0 END) * 5.0, 1.0)) / 3.0, 6) AS weight
           FROM documents),
         k AS (SELECT doc_id, source, weight,
             pow((${fnvSql("CAST(doc_id AS VARCHAR) || ':42'", 2166136261L)}
                   % 1000000 + 0.5) / 1000000.0,
               1.0 / weight) AS es_key
           FROM m WHERE weight > 0),
         r AS (SELECT source, doc_id, weight, es_key,
             row_number() OVER (PARTITION BY source
               ORDER BY es_key DESC, doc_id) AS rn
           FROM k)
         SELECT source, doc_id, weight, round(es_key, 6) AS es_key
         FROM r WHERE rn <= 5 ORDER BY source, es_key DESC, doc_id""",
    "dr4_mutual_information" ->
      """WITH o AS (SELECT source AS a, lang AS b, count(*) AS o
           FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL
           GROUP BY 1, 2),
         t AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM o),
         ra AS (SELECT a, sum(o) AS na FROM o GROUP BY 1),
         cb AS (SELECT b, sum(o) AS nb FROM o GROUP BY 1),
         ha AS (SELECT -sum((na / (1.0 * n)) * ln(na / (1.0 * n))) AS h_a
           FROM ra, t),
         hb AS (SELECT -sum((nb / (1.0 * n)) * ln(nb / (1.0 * n))) AS h_b
           FROM cb, t),
         mi AS (SELECT sum((o / (1.0 * n)) * ln((o / (1.0 * n))
             / ((na / (1.0 * n)) * (nb / (1.0 * n))))) AS mi
           FROM o JOIN ra USING (a) JOIN cb USING (b), t)
         SELECT n, round(mi, 6) AS mi, round(h_a, 6) AS h_a,
           round(h_b, 6) AS h_b,
           round(CASE WHEN least(h_a, h_b) > 0 THEN mi / least(h_a, h_b)
             ELSE 0 END, 6) AS nmi
         FROM t, ha, hb, mi""",
    "t22_zipf_slope" ->
      s"""WITH tk AS (SELECT lang, unnest($toks) AS tok FROM documents),
         vc AS (SELECT lang, tok, count(*) AS cnt FROM tk
           GROUP BY 1, 2 HAVING count(*) >= 5),
         rk AS (SELECT lang, cnt, row_number() OVER (PARTITION BY lang
             ORDER BY cnt DESC, tok) AS rk FROM vc),
         h AS (SELECT lang, ln(rk) AS x, ln(cnt) AS y FROM rk
           WHERE rk <= 500)
         SELECT lang, count(*) AS n_head,
           round(covar_pop(x, y) / var_pop(x), 4) AS zipf_slope
         FROM h GROUP BY 1 HAVING count(*) >= 2 ORDER BY lang""",
    "sk1_pareto_frontier" ->
      """WITH pts AS (SELECT DISTINCT CAST(l_extendedprice AS DOUBLE) AS x,
           CAST(l_discount AS DOUBLE) AS y FROM lineitem
           WHERE l_extendedprice IS NOT NULL AND l_discount IS NOT NULL),
         m AS (SELECT x, y, max(y) OVER (ORDER BY x DESC, y DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
           FROM pts)
         SELECT x AS l_extendedprice, y AS l_discount FROM m
         WHERE pmax IS NULL OR y > pmax ORDER BY x DESC""",
    "e2_random_projection" -> {
      val values = (for {
        (row, j) <- graft.similarity.Quantize.projectionMatrix(64, 8).zipWithIndex
        (w, dd) <- row.zipWithIndex
      } yield s"($j, ${dd + 1}, $w)").mkString(", ")
      s"""WITH w(j, d, wt) AS (SELECT * FROM (VALUES $values)),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
           FROM embeddings WHERE vec_id < 20)
         SELECT vec_id, CAST(j AS BIGINT) AS j,
           round(sum(emb[d] * wt), 6) AS comp
         FROM e, w GROUP BY vec_id, j ORDER BY vec_id, j"""
    },
    "t6_quality_by_lang" ->
      s"""WITH m AS (SELECT lang,
           len($toks) AS n_tokens,
           round(CASE WHEN len($toks) > 0 THEN len(list_filter($toks, x -> x IN $stop))::DOUBLE / len($toks) ELSE 0 END, 6) AS stop_r,
           CASE WHEN len($toks) > 0 THEN len(list_filter($toks, x -> x IN $stop))::DOUBLE / len($toks) ELSE 0 END AS stop_raw,
           CASE WHEN length(text) > 0 THEN (length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')))::DOUBLE / length(text) ELSE 0 END AS punct_raw
           FROM documents)
         SELECT lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(avg(n_tokens),4) AS avg_tokens,
           round(avg(stop_r),6) AS avg_stopword_ratio,
           round(avg(round((least(n_tokens / 50.0, 1.0)
             + (1.0 - least(punct_raw * 5.0, 1.0))
             + least(stop_raw * 5.0, 1.0)) / 3.0, 6)),6) AS avg_quality
         FROM m GROUP BY 1 ORDER BY lang""",
    "lm1_unigram_quality" ->
      s"""WITH tok AS (SELECT doc_id, lang, unnest($toks) AS tok FROM documents),
         tot AS (SELECT count(*)::DOUBLE AS total FROM tok),
         top AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY 1
           ORDER BY cnt DESC, tok LIMIT 1000),
         sc AS (SELECT doc_id, lang,
           ln(COALESCE(top.cnt::DOUBLE, 0.5) / (SELECT total FROM tot)) AS lp
           FROM tok LEFT JOIN top USING (tok)),
         d AS (SELECT doc_id, lang, avg(lp) AS avg_logp FROM sc GROUP BY 1,2)
         SELECT lang, count(*) AS n_docs, round(avg(avg_logp),4) AS mean_logp,
           round(min(avg_logp),4) AS min_logp, round(max(avg_logp),4) AS max_logp
         FROM d GROUP BY 1 ORDER BY lang""",
    "lm3_ccnet_buckets" ->
      s"""WITH tok AS (SELECT doc_id, lang, unnest($toks) AS tok FROM documents),
         tot AS (SELECT count(*)::DOUBLE AS total FROM tok),
         top AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY 1
           ORDER BY cnt DESC, tok LIMIT 1000),
         sc AS (SELECT doc_id, lang,
           ln(COALESCE(top.cnt::DOUBLE, 0.5) / (SELECT total FROM tot)) AS lp
           FROM tok LEFT JOIN top USING (tok)),
         d AS (SELECT doc_id, lang, count(*) AS n_tokens,
           round(avg(lp), 6) AS score FROM sc GROUP BY 1, 2),
         th AS (SELECT lang,
           quantile_cont(score, (1::DOUBLE) / 3) AS t1,
           quantile_cont(score, (2::DOUBLE) / 3) AS t2
           FROM d GROUP BY 1),
         b AS (SELECT d.lang,
           CASE WHEN score <= t1 THEN 'tail'
                WHEN score <= t2 THEN 'middle' ELSE 'head' END AS bucket,
           score, n_tokens FROM d JOIN th USING (lang))
         SELECT lang, bucket, count(*) AS n_docs,
           round(avg(score), 4) AS mean_score,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens
         FROM b GROUP BY 1, 2 ORDER BY lang, bucket""",
    "lm2_bigram_quality" ->
      s"""WITH w AS (SELECT doc_id, lang, $toks AS t FROM documents),
         tok AS (SELECT doc_id, unnest(t) AS tok FROM w),
         uc AS (SELECT tok, count(*) AS ucnt FROM tok GROUP BY 1),
         um AS (SELECT * FROM uc ORDER BY ucnt DESC, tok LIMIT 1000),
         un AS (SELECT sum(ucnt)::DOUBLE AS n FROM uc),
         bgl AS (SELECT doc_id, lang, list_transform(range(1, len(t)),
             i -> struct_pack(prev := t[i], cur := t[i+1],
               bg := t[i] || ' ' || t[i+1])) AS bl FROM w),
         bge AS (SELECT doc_id, lang, unnest(bl) AS b FROM bgl),
         bg AS (SELECT doc_id, lang, b.prev AS prev, b.cur AS cur,
           b.bg AS bg FROM bge),
         bc AS (SELECT bg, count(*) AS bcnt FROM bg GROUP BY 1),
         bm AS (SELECT * FROM bc ORDER BY bcnt DESC, bg LIMIT 2000),
         hc AS (SELECT prev, count(*) AS hcnt FROM bg GROUP BY 1),
         sc AS (SELECT doc_id, lang,
           ln(0.7 * COALESCE(bm.bcnt::DOUBLE / hc.hcnt, 0.0)
             + (1.0 - 0.7) * COALESCE(um.ucnt::DOUBLE, 0.5)
               / (SELECT n FROM un)) AS lp
           FROM bg LEFT JOIN bm USING (bg) LEFT JOIN hc USING (prev)
             LEFT JOIN um ON um.tok = bg.cur),
         d AS (SELECT doc_id, lang, avg(lp) AS avg_logp FROM sc
           GROUP BY 1, 2)
         SELECT lang, count(*) AS n_docs,
           round(avg(avg_logp), 4) AS mean_logp,
           round(min(avg_logp), 4) AS min_logp,
           round(max(avg_logp), 4) AS max_logp
         FROM d GROUP BY 1 ORDER BY lang""",
    "lm4_kneser_ney" ->
      s"""WITH w AS (SELECT doc_id, lang, $toks AS t FROM documents),
         bgl AS (SELECT doc_id, lang, list_transform(range(1, len(t)),
             i -> struct_pack(prev := t[i], cur := t[i+1],
               bg := t[i] || ' ' || t[i+1])) AS bl FROM w),
         bge AS (SELECT doc_id, lang, unnest(bl) AS b FROM bgl),
         bg AS (SELECT doc_id, lang, b.prev AS prev, b.cur AS cur,
           b.bg AS bg FROM bge),
         bc AS (SELECT bg, count(*) AS bcnt FROM bg GROUP BY 1),
         bk AS (SELECT bg, bcnt, string_split(bg, ' ')[1] AS prev,
           string_split(bg, ' ')[2] AS cur FROM bc),
         hc AS (SELECT prev, sum(bcnt) AS hcnt, count(*) AS nf
           FROM bk GROUP BY 1),
         ct AS (SELECT cur, count(*) AS np FROM bk GROUP BY 1),
         tt AS (SELECT count(*)::DOUBLE AS t FROM bc),
         bm AS (SELECT bg, greatest(bcnt::DOUBLE - 0.75, 0.0) / hcnt AS bp
           FROM (SELECT * FROM bk ORDER BY bcnt DESC, bg LIMIT 2000)
           JOIN hc USING (prev)),
         pm AS (SELECT prev, 0.75 * nf / hcnt AS w2 FROM
           (SELECT * FROM hc ORDER BY hcnt DESC, prev LIMIT 1000)),
         cm AS (SELECT cur, np FROM
           (SELECT * FROM ct ORDER BY np DESC, cur LIMIT 1000)),
         sc AS (SELECT doc_id, lang,
           ln(COALESCE(bp, 0.0) + COALESCE(w2, 0.75)
             * COALESCE(cm.np::DOUBLE, 0.5) / (SELECT t FROM tt)) AS lp
           FROM bg LEFT JOIN bm USING (bg) LEFT JOIN pm USING (prev)
             LEFT JOIN cm USING (cur)),
         d AS (SELECT doc_id, lang, avg(lp) AS avg_logp FROM sc
           GROUP BY 1, 2)
         SELECT lang, count(*) AS n_docs,
           round(avg(avg_logp), 4) AS mean_logp,
           round(min(avg_logp), 4) AS min_logp,
           round(max(avg_logp), 4) AS max_logp
         FROM d GROUP BY 1 ORDER BY lang""",
    "t7_token_stats" ->
      s"""SELECT lang, count(*) AS n_docs,
         CAST(sum(len($toks)) AS BIGINT) AS total_tokens,
         round(avg(len($toks)),4) AS avg_tokens
         FROM documents GROUP BY 1 ORDER BY lang""",
    "t5_langid_confusion" ->
      s"""WITH m AS (SELECT lang,
           len(list_filter($toks, x -> x IN ('the','and','of','is'))) AS s_en,
           len(list_filter($toks, x -> x IN ('der','und','die','ist'))) AS s_de,
           len(list_filter($toks, x -> x IN ('el','los','que','es'))) AS s_es,
           len(list_filter($toks, x -> x IN ('le','les','et','est'))) AS s_fr,
           len(list_filter($toks, x -> x IN ('de','shi','le','he'))) AS s_zh
           FROM documents),
         g AS (SELECT lang,
           CASE WHEN greatest(s_en,s_de,s_es,s_fr,s_zh) = 0 THEN 'und'
                WHEN s_zh = greatest(s_en,s_de,s_es,s_fr,s_zh) THEN 'zh'
                WHEN s_fr = greatest(s_en,s_de,s_es,s_fr,s_zh) THEN 'fr'
                WHEN s_es = greatest(s_en,s_de,s_es,s_fr,s_zh) THEN 'es'
                WHEN s_en = greatest(s_en,s_de,s_es,s_fr,s_zh) THEN 'en'
                ELSE 'de' END AS lang_guess FROM m)
         SELECT lang, lang_guess, count(*) AS cnt FROM g
         GROUP BY 1,2 ORDER BY lang, lang_guess""",
    "p19_hash_sample" ->
      s"""SELECT event_type, count(*) AS cnt, round(avg(value),4) AS avg_value
         FROM events
         WHERE ${fnvSql("CAST(user_id AS VARCHAR)", 2166136261L)} % 100 < 10
         GROUP BY 1 ORDER BY event_type""",
    "t13_repetition" ->
      s"""WITH t AS (SELECT doc_id, lang, $toks AS tk FROM documents),
         w AS (SELECT doc_id, lang,
           CASE WHEN len(tk) > 0
             THEN list_transform(range(0, CAST(ceil(len(tk) / 10.0) AS INT)),
                    i -> array_to_string(tk[i*10+1:i*10+10], ' '))
             ELSE [] END AS ws,
           CASE WHEN len(tk) >= 2
             THEN list_transform(range(0, len(tk) - 1),
                    i -> array_to_string(tk[i+1:i+2], ' '))
             ELSE [] END AS bgs
           FROM t),
         rl AS (SELECT doc_id, lang,
           CASE WHEN len(ws) > 0
             THEN 1.0 - len(list_distinct(ws))::DOUBLE / len(ws) ELSE 0.0 END AS wdf,
           len(bgs) AS nbg FROM w),
         tb AS (SELECT doc_id, max(c) AS topc FROM (
             SELECT doc_id, bg, count(*) AS c
             FROM (SELECT doc_id, unnest(bgs) AS bg FROM w) GROUP BY 1, 2)
           GROUP BY 1),
         j AS (SELECT rl.lang, rl.wdf,
           CASE WHEN rl.nbg > 0 THEN tb.topc::DOUBLE / rl.nbg ELSE 0.0 END AS tbf
           FROM rl LEFT JOIN tb ON rl.doc_id = tb.doc_id)
         SELECT lang, count(*) AS n_docs,
           round(avg(wdf), 6) AS avg_win_dup_frac,
           round(avg(tbf), 6) AS avg_top_bigram_frac,
           count(CASE WHEN wdf > 0.3 OR tbf > 0.2 THEN 1 END) AS n_flagged
         FROM j GROUP BY 1 ORDER BY lang""",
    // same substring semantics via contains() on both engines
    "t28_blocklist_audit" ->
      """WITH h AS (SELECT source,
           len(list_filter(['slow join', 'table scan', 'batch batch',
               'window window', 'never matches anything'],
             p -> contains(text, p))) AS hits
           FROM documents)
         SELECT source, count(*) AS n_docs,
           CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_flagged,
           CAST(sum(hits) AS BIGINT) AS total_hits,
           round(avg(CASE WHEN hits > 0 THEN 1.0 ELSE 0.0 END), 6)
             AS flag_rate
         FROM h GROUP BY source ORDER BY source""",
    // the HtmlExtract regex chain, FROZEN as literals (the frozenPerms
    // discipline: an engine pattern drift fails the gate loudly instead
    // of re-pinning the oracle invisibly); Java-regex ∩ RE2 subset
    "t29_html_extract" ->
      s"""WITH $htmlExtractSqlChain
         SELECT doc_id, len(blocks)::BIGINT AS n_blocks,
           len(txt)::BIGINT AS n_chars,
           ${fnvSql("txt", 2166136261L)} AS text_fnv,
           blocks[1] AS first_block, blocks[-1] AS last_block
         FROM j ORDER BY doc_id LIMIT 1000""",
    // the full crawl-ingest composition: the SAME synthesized pages →
    // HtmlExtract blocks → CCNet boilerplate-line removal (d27's
    // operator) — corpus-repeated chrome (title, lang line, entity
    // footer) drops, each doc keeps exactly its unique heading + body;
    // every rebuilt text is pinned
    "t30_crawl_pipeline" ->
      s"""WITH $htmlExtractSqlChain,
         lx AS MATERIALIZED (SELECT doc_id,
           string_split(txt, chr(10)) AS lines FROM j),
         ln AS MATERIALIZED (SELECT doc_id,
           generate_subscripts(lines, 1) AS line_no, unnest(lines) AS line
           FROM lx),
         nrm AS MATERIALIZED (SELECT doc_id, line_no, line,
           lower(trim(line)) AS norm FROM ln),
         boiler AS MATERIALIZED (SELECT norm FROM
           (SELECT norm, count(DISTINCT doc_id) AS nd FROM nrm
            WHERE len(norm) > 0 GROUP BY 1) WHERE nd >= 3),
         kept AS (SELECT n.doc_id, n.line_no, n.line
           FROM nrm n ANTI JOIN boiler b2 ON n.norm = b2.norm),
         agg AS (SELECT doc_id, count(*) AS n_kept,
           string_agg(line, chr(10) ORDER BY line_no) AS text
           FROM kept GROUP BY 1),
         base AS (SELECT doc_id, len(lines) AS n_lines FROM lx)
         SELECT b3.doc_id, coalesce(a.text, '') AS text,
           CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(b3.n_lines - coalesce(a.n_kept, 0) AS BIGINT) AS n_dropped
         FROM base b3 LEFT JOIN agg a USING (doc_id) ORDER BY b3.doc_id""",
    "t14_pii_scrub" ->
      """WITH w AS (SELECT source, text ||
           CASE WHEN doc_id % 7 = 0
             THEN ' contact u' || doc_id || '@example.com' ELSE '' END ||
           CASE WHEN doc_id % 11 = 0
             THEN ' from 10.0.' || (doc_id % 256) || '.1' ELSE '' END AS text
           FROM documents),
         s AS (SELECT source, regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g')
             AS text FROM w)
         SELECT source, count(*) AS n_docs,
           CAST(sum(len(regexp_extract_all(text, '<EMAIL>'))) AS BIGINT)
             AS n_email_redacted,
           CAST(sum(len(regexp_extract_all(text, '<IP>'))) AS BIGINT)
             AS n_ip_redacted,
           CAST(sum(len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
             + len(regexp_extract_all(text,
               '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))) AS BIGINT)
             AS n_residual_pii
         FROM s GROUP BY 1 ORDER BY source""",
    "t26_gopher_rules" ->
      s"""WITH g AS (SELECT doc_id, lang,
           CASE WHEN doc_id % 13 = 0
                  THEN '- ' || replace(text, ' a ', chr(10) || '- ')
                WHEN doc_id % 17 = 0
                  THEN replace(text, ' a ', '...' || chr(10)) || '...'
                ELSE replace(text, ' a ', '.' || chr(10)) END
           || CASE WHEN doc_id % 19 = 0 THEN ' # # # # # # # #' ELSE '' END
             AS text
           FROM documents),
         m AS (SELECT doc_id, lang, text,
           list_filter(string_split_regex(text, '[ \\t\\n]+'), t -> len(t) > 0) AS w,
           string_split(text, chr(10)) AS l
           FROM g),
         r AS (SELECT doc_id, lang,
           len(w) >= 20 AND len(w) <= 100000 AS r_wordcount,
           len(w) > 0
             AND list_sum(list_transform(w, t -> len(t)))::DOUBLE / len(w) >= 3.0
             AND list_sum(list_transform(w, t -> len(t)))::DOUBLE / len(w) <= 10.0
             AS r_meanlen,
           len(w) > 0 AND
             ((len(text) - len(replace(text, '#', '')))::DOUBLE
              + (len(text) - len(replace(text, '...', '')))::DOUBLE / 3.0)
             / len(w) <= 0.1 AS r_symbol,
           len(list_filter(l, x -> regexp_matches(x, '^[-*•] ')))::DOUBLE
             / len(l) <= 0.9 AS r_bullet,
           len(list_filter(l, x -> ends_with(x, '...')))::DOUBLE
             / len(l) <= 0.3 AS r_ellipsis,
           len(w) > 0 AND
             len(list_filter(w, t -> regexp_matches(t, '[A-Za-z]')))::DOUBLE
             / len(w) >= 0.8 AS r_alpha,
           len(list_filter(['the', 'table', 'row', 'value'],
             x -> list_contains(w, x))) >= 2 AS r_stopword
           FROM m)
         SELECT lang, count(*) AS n_docs,
           count(CASE WHEN r_wordcount AND r_meanlen AND r_symbol AND r_bullet
             AND r_ellipsis AND r_alpha AND r_stopword THEN 1 END) AS n_pass,
           count(CASE WHEN NOT r_wordcount THEN 1 END) AS f_wordcount,
           count(CASE WHEN NOT r_meanlen THEN 1 END) AS f_meanlen,
           count(CASE WHEN NOT r_symbol THEN 1 END) AS f_symbol,
           count(CASE WHEN NOT r_bullet THEN 1 END) AS f_bullet,
           count(CASE WHEN NOT r_ellipsis THEN 1 END) AS f_ellipsis,
           count(CASE WHEN NOT r_alpha THEN 1 END) AS f_alpha,
           count(CASE WHEN NOT r_stopword THEN 1 END) AS f_stopword
         FROM r GROUP BY 1 ORDER BY lang""",
    "t25_char_entropy" ->
      """WITH aug AS (SELECT doc_id, lang,
           CASE WHEN doc_id % 11 = 0 THEN text || ' ' || repeat('z', 200)
                ELSE text END AS text
           FROM documents),
         ch AS (SELECT doc_id, lang,
           unnest(list_filter(string_split_regex(text, ''), c -> len(c) > 0)) AS c
           FROM aug),
         cc AS (SELECT doc_id, lang, c, count(*) AS k FROM ch GROUP BY 1, 2, 3),
         e AS (SELECT doc_id, lang,
           round((ln(sum(k)) - sum(k::DOUBLE * ln(k::DOUBLE)) / sum(k))
             / ln(2.0), 4) AS h
           FROM cc GROUP BY 1, 2)
         SELECT lang, count(*) AS n_docs, round(avg(h), 4) AS avg_entropy,
           round(min(h), 4) AS min_entropy, round(max(h), 4) AS max_entropy
         FROM e GROUP BY 1 ORDER BY lang""",
    "t16_c4_line_filter" ->
      s"""WITH lined AS (SELECT source,
           replace(text, ' a ', '.' || chr(10))
           || CASE WHEN doc_id % 97 = 0
                THEN chr(10) || 'lorem ipsum dolor.' ELSE '' END
           || CASE WHEN doc_id % 89 = 0
                THEN chr(10) || 'var x = { js }.' ELSE '' END AS text
           FROM documents),
         f AS (SELECT source, text,
           len(string_split(text, chr(10))) AS lines_in,
           list_filter(string_split(text, chr(10)), l ->
             regexp_matches(l, '[.!?"]$$')
             AND len(list_filter(string_split(l, ' '), t -> len(t) > 0)) >= 3
             AND NOT contains(lower(l), 'javascript')) AS kept
           FROM lined),
         g AS (SELECT source, lines_in, len(kept) AS lines_kept,
           array_to_string(kept, chr(10)) AS clean_text,
           len(kept) >= 2 AND NOT contains(lower(text), 'lorem ipsum')
             AND NOT contains(text, '{') AS doc_kept
           FROM f)
         SELECT source, count(*) AS docs_in,
           count(CASE WHEN doc_kept THEN 1 END) AS docs_kept,
           CAST(sum(lines_in) AS BIGINT) AS lines_in,
           CAST(sum(lines_kept) AS BIGINT) AS lines_kept,
           CAST(sum(CASE WHEN doc_kept THEN len(clean_text) ELSE 0 END)
             AS BIGINT) AS chars_kept,
           CAST(sum(CASE WHEN doc_kept
             THEN ${fnvSql("clean_text", 2166136261L)} ELSE 0 END)
             AS BIGINT) AS clean_fnv_sum
         FROM g GROUP BY 1 ORDER BY source""",
    "t17_nfc_normalize" ->
      s"""WITH w AS (SELECT source, text ||
           CASE WHEN doc_id % 5 = 0
             THEN ' cafe' || chr(769) || ' nai' || chr(776) || 've'
             ELSE '' END AS text
           FROM documents),
         n AS (SELECT source, len(text) AS raw_len,
           nfc_normalize(text) AS norm FROM w)
         SELECT source, count(*) AS n_docs,
           CAST(sum(raw_len) AS BIGINT) AS chars_raw,
           CAST(sum(len(norm)) AS BIGINT) AS chars_nfc,
           CAST(sum(${fnvSql("norm", 2166136261L)}) AS BIGINT) AS norm_fnv_sum
         FROM n GROUP BY 1 ORDER BY source""",
    "d11_decontaminate" -> decontReportSql,
    // identical oracle: the streaming screen must reproduce the batch
    // decontamination census regardless of micro-batch arrival
    "st13_stream_decontaminate" -> decontReportSql,
    "d25_contamination_matrix" ->
      s"""WITH tk AS (SELECT doc_id, source, $toks AS t FROM documents),
         sh AS (SELECT doc_id, source, list_distinct(CASE WHEN len(t) >= 8
             THEN list_transform(range(0, len(t) - 7),
                    i -> array_to_string(t[i+1:i+8], ' '))
             ELSE [array_to_string(t, ' ')] END) AS s FROM tk),
         ev AS (SELECT DISTINCT CASE WHEN doc_id % 194 = 0
             THEN 'benchA' ELSE 'benchB' END AS eval_set,
             unnest(s) AS g FROM sh WHERE doc_id % 97 = 0),
         tr AS (SELECT doc_id, source, unnest(s) AS g FROM sh),
         m AS (SELECT source, eval_set, doc_id, g FROM tr JOIN ev USING (g))
         SELECT source, eval_set, count(DISTINCT doc_id) AS n_docs,
           count(DISTINCT g) AS n_shingles
         FROM m GROUP BY 1, 2 ORDER BY 1, 2""",
    "d26_source_novelty" ->
      s"""WITH tk AS (SELECT source, $toks AS t FROM documents),
         sh AS (SELECT source, list_distinct(CASE WHEN len(t) >= 8
             THEN list_transform(range(0, len(t) - 7),
                    i -> array_to_string(t[i+1:i+8], ' '))
             ELSE [array_to_string(t, ' ')] END) AS s FROM tk),
         ss AS (SELECT DISTINCT source, unnest(s) AS g FROM sh),
         c AS (SELECT g, count(*) AS n_sources FROM ss GROUP BY 1)
         SELECT source, count(*) AS n_shingles,
           CAST(sum(CASE WHEN n_sources = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unique,
           round(CAST(sum(CASE WHEN n_sources = 1 THEN 1 ELSE 0 END)
             AS DOUBLE) / count(*), 6) AS novelty
         FROM ss JOIN c USING (g) GROUP BY 1 ORDER BY 1""",
    "d12_decontaminate_bloom" ->
      s"""WITH tk AS (SELECT doc_id, $toks AS t FROM documents),
         sh AS (SELECT doc_id, list_distinct(CASE WHEN len(t) >= 8
             THEN list_transform(range(0, len(t) - 7),
                    i -> array_to_string(t[i+1:i+8], ' '))
             ELSE [array_to_string(t, ' ')] END) AS s FROM tk),
         ev AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 97 = 0),
         bad AS (SELECT DISTINCT doc_id FROM
           (SELECT doc_id, unnest(s) AS g FROM sh) d JOIN ev USING (g))
         SELECT count(*) AS n_exact_contaminated,
           true AS bloom_covers_exact, true AS overremoval_le_1pct
         FROM bad""",
    "a27_quantile_approx" ->
      """SELECT l_returnflag, round(quantile_cont(l_quantity, 0.5),4) AS median_exact,
         true AS approx_rank_in_bounds
         FROM lineitem GROUP BY 1 ORDER BY l_returnflag""",
    "ml1_kmeans" ->
      """SELECT 4 AS k, count(*) AS n_points,
         round(avg(ln(1 + value)), 6) AS avg_f_value,
         round(avg(CAST(hour(ts) AS DOUBLE)), 4) AS avg_f_hour,
         true AS sse_explains_85pct_variance, true AS clusters_nonempty
         FROM events WHERE value IS NOT NULL AND value > -1 AND ts IS NOT NULL""",
    "ml5_iforest_invariants" ->
      """SELECT CAST(50 AS BIGINT) AS n_top, true AS iqr_overlap_ge_30,
         true AS scores_in_unit_interval""",
    "p6_sample_profile" ->
      """SELECT event_type, true AS cnt_in_bounds, true AS avg_in_range
         FROM events GROUP BY 1 ORDER BY event_type""",
    "n2_lsh_top_pairs" ->
      """WITH aug AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
           UNION ALL
           SELECT vec_id + 10000,
             CAST(list_transform(embedding, (x, i) ->
               CAST(x * (1 + 0.0001 * ((vec_id + i - 1) % 3 - 1)) AS FLOAT))
               AS DOUBLE[])
           FROM embeddings WHERE vec_id < 25)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.emb, b.emb), 6) AS sim,
           true AS margin_ok
         FROM aug a JOIN aug b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.emb, b.emb) >= 0.99
         ORDER BY id_a, id_b""",
    "n6_lsh_adaptive_pairs" ->
      """WITH aug AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
           UNION ALL
           SELECT vec_id + 10000,
             CAST(list_transform(embedding, (x, i) ->
               CAST(x * (1 + 0.0001 * ((vec_id + i - 1) % 3 - 1)) AS FLOAT))
               AS DOUBLE[])
           FROM embeddings WHERE vec_id < 25)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.emb, b.emb), 6) AS sim
         FROM aug a JOIN aug b ON a.vec_id < b.vec_id
         ORDER BY sim DESC, id_a, id_b LIMIT 20""",
    "d14_semantic_dedup" ->
      """WITH aug AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
           UNION ALL
           SELECT vec_id + 10000,
             CAST(list_transform(embedding, (x, i) ->
               CAST(x * (1 + 0.0001 * ((vec_id + i - 1) % 3 - 1)) AS FLOAT))
               AS DOUBLE[])
           FROM embeddings WHERE vec_id < 25),
         pairs AS (
           SELECT a.vec_id AS kept_id, b.vec_id AS removed_id,
             list_cosine_similarity(a.emb, b.emb) AS sim
           FROM aug a JOIN aug b ON a.vec_id < b.vec_id)
         SELECT removed_id, min(kept_id) AS kept_id,
           round(max(sim), 6) AS sim, max(sim) >= 0.9999 AS margin_ok
         FROM pairs WHERE sim >= 0.95
         GROUP BY removed_id ORDER BY removed_id""",
    // identical exact all-pairs oracle: the boundary pass can only add
    // recall, and every true pair is already in the single-probe result
    "d28_semdedup_multiprobe" ->
      """WITH aug AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
           UNION ALL
           SELECT vec_id + 10000,
             CAST(list_transform(embedding, (x, i) ->
               CAST(x * (1 + 0.0001 * ((vec_id + i - 1) % 3 - 1)) AS FLOAT))
               AS DOUBLE[])
           FROM embeddings WHERE vec_id < 25),
         pairs AS (
           SELECT a.vec_id AS kept_id, b.vec_id AS removed_id,
             list_cosine_similarity(a.emb, b.emb) AS sim
           FROM aug a JOIN aug b ON a.vec_id < b.vec_id)
         SELECT removed_id, min(kept_id) AS kept_id,
           round(max(sim), 6) AS sim, max(sim) >= 0.9999 AS margin_ok
         FROM pairs WHERE sim >= 0.95
         GROUP BY removed_id ORDER BY removed_id""",
    "n7_ivf_top5" ->
      """SELECT CAST(10 AS BIGINT) AS n_queries, CAST(50 AS BIGINT) AS n_rows,
         true AS recall_ge_06, true AS sims_match_exact""",
    "n11_semantic_decontaminate" ->
      """WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
           FROM embeddings WHERE vec_id % 10 != 0),
         e AS (SELECT vec_id AS eid, CAST(embedding AS DOUBLE[]) AS emb
           FROM embeddings WHERE vec_id % 10 = 0),
         s AS (SELECT t.vec_id, e.eid,
           list_cosine_similarity(t.emb, e.emb) AS sim FROM t, e),
         m AS (SELECT vec_id, max(sim) AS ms FROM s GROUP BY 1),
         p AS (SELECT s.vec_id, min(s.eid) AS nearest_eval_id,
           round(any_value(m.ms), 6) AS max_sim
           FROM s JOIN m ON s.vec_id = m.vec_id AND s.sim = m.ms
           GROUP BY 1)
         SELECT vec_id, nearest_eval_id, max_sim FROM p
         WHERE max_sim >= 0.35 ORDER BY vec_id""",
    "n9_knn_join" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_emb
           FROM embeddings WHERE vec_id % 2 = 0),
         c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
           FROM embeddings WHERE vec_id % 2 = 1),
         s AS (SELECT query_id, c.vec_id,
           list_cosine_similarity(q.q_emb, c.emb) AS sim
           FROM q JOIN c ON c.vec_id != q.query_id),
         r AS (SELECT query_id, vec_id, sim, row_number() OVER
           (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank FROM s)
         SELECT query_id, CAST(rank AS INT) AS rank, vec_id, round(sim,6) AS sim
         FROM r WHERE rank <= 3 ORDER BY query_id, rank""",
    "n10_ivf_knn_join" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries,
         CAST(3 * count(*) AS BIGINT) AS n_rows,
         true AS recall_ge_06, true AS sims_match_exact
         FROM embeddings WHERE vec_id % 2 = 0""",
    "n8_pq_clones" ->
      """SELECT CAST(10 AS BIGINT) AS n_queries, CAST(50 AS BIGINT) AS n_rows,
         true AS self_at_min, true AS clones_in_top5,
         true AS codes_in_range""",
    "n3_ivf_topk" ->
      """WITH cl AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
           CAST(list_transform(embedding, (x, i) ->
             CAST(x * (1 + 0.0001 * ((vec_id + i - 1) % 3 - 1)) AS FLOAT))
             AS DOUBLE[]) AS c_emb
           FROM embeddings WHERE vec_id < 10)
         SELECT vec_id AS query_id, vec_id + 10000 AS vec_id,
           round(list_cosine_similarity(emb, c_emb), 6) AS sim,
           true AS margin_ok
         FROM cl ORDER BY query_id""",
    "n1_ann_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_emb
           FROM embeddings WHERE vec_id < 10),
         s AS (SELECT query_id, e.vec_id,
           list_cosine_similarity(q.q_emb, CAST(e.embedding AS DOUBLE[])) AS sim
           FROM q JOIN embeddings e ON e.vec_id != q.query_id),
         r AS (SELECT query_id, vec_id, sim, row_number() OVER
           (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank FROM s)
         SELECT query_id, CAST(rank AS INT) AS rank, vec_id, round(sim,6) AS sim
         FROM r WHERE rank <= 5 ORDER BY query_id, rank""",
    "n5_label_centroids" ->
      """SELECT label, i AS dim, round(avg(embedding[i+1]), 6) AS c
         FROM embeddings, range(0, 64) r(i)
         GROUP BY 1, 2 ORDER BY label, dim""",
    "n4_exact_top_pairs" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.emb, b.emb), 6) AS sim
         FROM e a JOIN e b ON a.vec_id < b.vec_id
         ORDER BY list_cosine_similarity(a.emb, b.emb) DESC, id_a, id_b LIMIT 20""",
    "n12_mutual_nn" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         p AS (SELECT a.vec_id AS id, b.vec_id AS other,
           list_cosine_similarity(a.emb, b.emb) AS sim
           FROM e a JOIN e b ON a.vec_id <> b.vec_id),
         r AS (SELECT id, other, sim, row_number() OVER (PARTITION BY id
             ORDER BY sim DESC, other) AS rn FROM p),
         nn AS (SELECT id, other AS nn, sim FROM r WHERE rn = 1)
         SELECT x.id AS id_a, x.nn AS id_b, round(x.sim, 6) AS sim
         FROM nn x JOIN nn y ON x.nn = y.id AND y.nn = x.id AND x.id < x.nn
         ORDER BY id_a""",
    "w28_max_drawdown" ->
      """WITH t AS (SELECT user_id % 20 AS ukey, event_id AS oid,
           value - 100.0 AS step FROM events),
         c AS (SELECT ukey, oid, step, sum(step) OVER (PARTITION BY ukey
             ORDER BY oid
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM t),
         p AS (SELECT ukey, step, cum, max(cum) OVER (PARTITION BY ukey
             ORDER BY oid
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
           FROM c)
         SELECT ukey, count(*) AS n,
           round(max(peak - cum), 4) AS max_drawdown,
           round(sum(step), 4) AS final_sum
         FROM p GROUP BY 1 ORDER BY ukey""",
    "w26_rolling_median" ->
      """SELECT user_id, event_id, value,
           round(quantile_cont(value, 0.5) OVER (PARTITION BY user_id
             ORDER BY event_id
             ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING), 6) AS rolling_median
         FROM events WHERE user_id % 25 = 7 ORDER BY user_id, event_id""",
    "r6_mmr_diversified" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
           FROM embeddings),
         qq AS (SELECT emb FROM e WHERE vec_id = 0),
         c0 AS (SELECT vec_id, emb,
           list_cosine_similarity(emb, (SELECT emb FROM qq)) AS rel
           FROM e WHERE vec_id <> 0),
         cand AS (SELECT vec_id, emb, rel FROM (SELECT *,
             row_number() OVER (ORDER BY rel DESC, vec_id) AS rn FROM c0)
           WHERE rn <= 10),
         p1 AS (SELECT vec_id, emb, rel, 1 AS pick,
             round(0.7 * rel, 6) AS score
           FROM (SELECT *, row_number() OVER (
               ORDER BY round(0.7 * rel, 6) DESC, vec_id) AS w FROM cand)
           WHERE w = 1),
         s1 AS (SELECT vec_id, emb FROM p1),
         r2 AS (SELECT c.vec_id, any_value(c.emb) AS emb, c.rel,
             max(list_cosine_similarity(c.emb, s.emb)) AS ms
           FROM cand c, s1 s WHERE c.vec_id NOT IN (SELECT vec_id FROM s1)
           GROUP BY c.vec_id, c.rel),
         p2 AS (SELECT vec_id, emb, rel, 2 AS pick,
             round(0.7 * rel - (1 - 0.7) * ms, 6) AS score
           FROM (SELECT *, row_number() OVER (
               ORDER BY round(0.7 * rel - (1 - 0.7) * ms, 6) DESC, vec_id)
               AS w FROM r2)
           WHERE w = 1),
         s2 AS (SELECT vec_id, emb FROM p1
           UNION ALL SELECT vec_id, emb FROM p2),
         r3 AS (SELECT c.vec_id, any_value(c.emb) AS emb, c.rel,
             max(list_cosine_similarity(c.emb, s.emb)) AS ms
           FROM cand c, s2 s WHERE c.vec_id NOT IN (SELECT vec_id FROM s2)
           GROUP BY c.vec_id, c.rel),
         p3 AS (SELECT vec_id, emb, rel, 3 AS pick,
             round(0.7 * rel - (1 - 0.7) * ms, 6) AS score
           FROM (SELECT *, row_number() OVER (
               ORDER BY round(0.7 * rel - (1 - 0.7) * ms, 6) DESC, vec_id)
               AS w FROM r3)
           WHERE w = 1)
         SELECT pick, vec_id, round(rel, 6) AS rel, score FROM (
           SELECT pick, vec_id, rel, score FROM p1
           UNION ALL SELECT pick, vec_id, rel, score FROM p2
           UNION ALL SELECT pick, vec_id, rel, score FROM p3)
         ORDER BY pick""",
    "ml15_knn_loo" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
           FROM embeddings),
         p AS (SELECT a.vec_id AS id, a.label AS true_label,
           b.vec_id AS other, b.label AS other_label,
           list_cosine_similarity(a.emb, b.emb) AS sim
           FROM e a JOIN e b ON a.vec_id <> b.vec_id),
         r AS (SELECT *, row_number() OVER (PARTITION BY id
             ORDER BY sim DESC, other) AS rn FROM p),
         v AS (SELECT id, true_label, other_label, count(*) AS v
           FROM r WHERE rn <= 5 GROUP BY 1, 2, 3),
         w AS (SELECT *, row_number() OVER (PARTITION BY id
             ORDER BY v DESC, other_label) AS w FROM v),
         pred AS (SELECT id, true_label, other_label AS pred
           FROM w WHERE w = 1)
         SELECT true_label AS label, count(*) AS n,
           CAST(sum(CASE WHEN pred = true_label THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct,
           round(CAST(sum(CASE WHEN pred = true_label THEN 1 ELSE 0 END)
             AS DOUBLE) / count(*), 6) AS accuracy
         FROM pred GROUP BY 1 ORDER BY label""",
    "g13_powerlaw_alpha" ->
      """WITH e AS MATERIALIZED (SELECT DISTINCT
           least(o_custkey % 400, o_orderkey % 401) AS a,
           greatest(o_custkey % 400, o_orderkey % 401) AS b
           FROM orders WHERE o_custkey % 400 <> o_orderkey % 401),
         deg AS (SELECT node, count(*) AS deg FROM (
           SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e)
           GROUP BY 1),
         t AS (SELECT count(*) AS n_tail, max(deg) AS max_degree,
           sum(ln(deg / 1.5)) AS s FROM deg WHERE deg >= 2)
         SELECT 2 AS kmin, n_tail, max_degree,
           round(1.0 + n_tail / s, 6) AS alpha FROM t""",
    "t9_bpeish_tokens" ->
      s"""SELECT lang, count(*) AS n_docs,
         CAST(sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]+'))) AS BIGINT)
           AS total_bpe_tokens,
         round(avg(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]+'))),4)
           AS avg_bpe_tokens,
         round(avg(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]+'))
           - len($toks)),4) AS avg_subword_surplus
         FROM documents GROUP BY 1 ORDER BY lang""",
    "t10_vocab_by_lang" ->
      s"""SELECT lang, count(*) AS n_tokens, count(DISTINCT tok) AS vocab_exact
         FROM (SELECT lang, unnest($toks) AS tok FROM documents)
         GROUP BY 1 ORDER BY lang""",
    "tp1_pipeline_summary" ->
      s"""WITH dd AS (SELECT text, min(doc_id) AS doc_id FROM documents GROUP BY text),
         m AS (SELECT doc_id, text, len($toks) AS n_tokens,
           round((least(len($toks) / 50.0, 1.0)
             + (1.0 - least((CASE WHEN length(text) > 0
                 THEN (length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')))::DOUBLE / length(text)
                 ELSE 0 END) * 5.0, 1.0))
             + least((CASE WHEN len($toks) > 0
                 THEN len(list_filter($toks, x -> x IN $stop))::DOUBLE / len($toks)
                 ELSE 0 END) * 5.0, 1.0)) / 3.0, 6) AS quality
           FROM dd),
         f AS (SELECT * FROM m WHERE quality >= 0.5),
         sc AS (SELECT doc_id, n_tokens, quality,
           len(list_filter($toks, x -> x IN ('the','and','of','is'))) AS s_en,
           len(list_filter($toks, x -> x IN ('der','und','die','ist'))) AS s_de,
           len(list_filter($toks, x -> x IN ('el','los','que','es'))) AS s_es,
           len(list_filter($toks, x -> x IN ('le','les','et','est'))) AS s_fr,
           len(list_filter($toks, x -> x IN ('de','shi','le','he'))) AS s_zh
           FROM f),
         lg AS (SELECT doc_id, n_tokens, quality,
           CASE WHEN greatest(s_en,s_de,s_es,s_fr,s_zh) = 0 THEN 'und'
                WHEN s_zh = greatest(s_en,s_de,s_es,s_fr,s_zh) THEN 'zh'
                WHEN s_fr = greatest(s_en,s_de,s_es,s_fr,s_zh) THEN 'fr'
                WHEN s_es = greatest(s_en,s_de,s_es,s_fr,s_zh) THEN 'es'
                WHEN s_en = greatest(s_en,s_de,s_es,s_fr,s_zh) THEN 'en'
                ELSE 'de' END AS lang_guess FROM sc)
         SELECT lang_guess, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(avg(n_tokens),4) AS avg_tokens,
           round(avg(quality),6) AS avg_quality
         FROM lg WHERE lang_guess != 'und' GROUP BY 1 ORDER BY lang_guess""",
    "tp2_mixture_quota" ->
      s"""WITH ranked AS (SELECT source, doc_id,
           row_number() OVER (PARTITION BY source
             ORDER BY ${fnvSql("CAST(doc_id AS VARCHAR)", 2166136261L)}, doc_id) AS rk
           FROM documents),
         quota AS (SELECT * FROM (VALUES ('src0', 10), ('src1', 5),
           ('src2', 25), ('src3', 40)) q(source, n)),
         kept AS (SELECT ranked.source AS source, doc_id FROM ranked
           JOIN quota ON ranked.source = quota.source WHERE rk <= quota.n)
         SELECT source, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum,
           min(doc_id) AS id_min, max(doc_id) AS id_max
         FROM kept GROUP BY 1 ORDER BY source""",
    "r3_dsir_select" ->
      s"""WITH f AS (SELECT doc_id, lang = 'en' AS t,
             unnest(list_concat($toks,
               CASE WHEN len($toks) >= 2
                 THEN list_transform(range(0, len($toks) - 1),
                        i -> array_to_string(($toks)[i+1:i+2], ' '))
                 ELSE [] END)) AS feat
           FROM documents),
         fb AS (SELECT doc_id, t, ${fnvSql("feat", 2166136261L)} % 4096 AS b
           FROM f),
         m AS (SELECT b, sum(CASE WHEN t THEN 1 ELSE 0 END) AS ct,
             sum(CASE WHEN NOT t THEN 1 ELSE 0 END) AS cr
           FROM fb GROUP BY 1),
         tot AS (SELECT sum(ct)::DOUBLE AS tt, sum(cr)::DOUBLE AS tr FROM m),
         lr AS (SELECT b, ln((ct + 1.0) / (tt + 4096))
             - ln((cr + 1.0) / (tr + 4096)) AS lr FROM m, tot),
         sc AS (SELECT doc_id, count(*) AS n_features, sum(lr) AS log_w
           FROM fb JOIN lr USING (b) WHERE NOT t GROUP BY 1),
         g AS (SELECT doc_id, n_features, log_w,
             log_w - ln(-ln((${fnvSql("CAST(doc_id AS VARCHAR) || ':42'", 2166136261L)}
               % 1000000 + 0.5) / 1000000.0)) AS gk
           FROM sc)
         SELECT doc_id, n_features, round(log_w, 6) AS log_w,
           round(gk, 6) AS gumbel_key
         FROM g ORDER BY g.gk DESC, doc_id LIMIT 30""",
    "r2_weighted_sample" ->
      s"""WITH m AS (SELECT doc_id,
           round((least(len($toks) / 50.0, 1.0)
             + (1.0 - least((CASE WHEN length(text) > 0
                 THEN (length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')))::DOUBLE / length(text)
                 ELSE 0 END) * 5.0, 1.0))
             + least((CASE WHEN len($toks) > 0
                 THEN len(list_filter($toks, x -> x IN $stop))::DOUBLE / len($toks)
                 ELSE 0 END) * 5.0, 1.0)) / 3.0, 6) AS weight
           FROM documents),
         k AS (SELECT doc_id, weight,
             pow((${fnvSql("CAST(doc_id AS VARCHAR) || ':42'", 2166136261L)}
                   % 1000000 + 0.5) / 1000000.0,
               1.0 / weight) AS es_key
           FROM m WHERE weight > 0)
         SELECT doc_id, weight, round(es_key, 6) AS es_key
         FROM k ORDER BY k.es_key DESC, doc_id LIMIT 40""",
    "tp4_quality_weighted" ->
      s"""WITH m AS (SELECT doc_id, lang, CAST(len($toks) AS BIGINT) AS n_tokens,
           round((least(len($toks) / 50.0, 1.0)
             + (1.0 - least((CASE WHEN length(text) > 0
                 THEN (length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')))::DOUBLE / length(text)
                 ELSE 0 END) * 5.0, 1.0))
             + least((CASE WHEN len($toks) > 0
                 THEN len(list_filter($toks, x -> x IN $stop))::DOUBLE / len($toks)
                 ELSE 0 END) * 5.0, 1.0)) / 3.0, 6) AS q
           FROM documents)
         SELECT lang, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum,
           CAST(sum(n_tokens) AS BIGINT) AS tok_sum
         FROM m
         WHERE ${fnvSql("CAST(doc_id AS VARCHAR)", 2166136261L)} % 1000000
           < least(q * 0.8, 1.0) * 1000000
         GROUP BY 1 ORDER BY lang""",
    "tp9_leakage_compare" ->
      s"""WITH aug AS (SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 100000, upper(replace(text, ' ', '  '))
           FROM documents WHERE doc_id % 10 = 0),
         k AS (SELECT doc_id,
           regexp_replace(lower(text), '[ \\t\\n\\f\\r]+', ' ', 'g') AS norm
           FROM aug),
         hs AS (SELECT norm,
           CASE WHEN ${fnvSql("CAST(doc_id AS VARCHAR)", 2166136261L)} % 100 < 80 THEN 'train'
                WHEN ${fnvSql("CAST(doc_id AS VARCHAR)", 2166136261L)} % 100 < 90 THEN 'val'
                ELSE 'test' END AS split
           FROM k),
         hg AS (SELECT count(*) AS n_groups,
           CAST(COALESCE(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
             AS n_leaky
           FROM (SELECT norm, count(DISTINCT split) AS ns FROM hs GROUP BY 1)),
         reps AS (SELECT norm, min(doc_id) AS grp FROM k GROUP BY 1),
         gs AS (SELECT k.norm AS norm,
           CASE WHEN ${fnvSql("CAST(grp AS VARCHAR)", 2166136261L)} % 100 < 80 THEN 'train'
                WHEN ${fnvSql("CAST(grp AS VARCHAR)", 2166136261L)} % 100 < 90 THEN 'val'
                ELSE 'test' END AS split
           FROM k JOIN reps USING (norm)),
         gg AS (SELECT count(*) AS n_groups,
           CAST(COALESCE(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
             AS n_leaky
           FROM (SELECT norm, count(DISTINCT split) AS ns FROM gs GROUP BY 1))
         SELECT 'group' AS method, n_groups, n_leaky AS n_leaky_groups FROM gg
         UNION ALL
         SELECT 'hash' AS method, n_groups, n_leaky AS n_leaky_groups FROM hg
         ORDER BY method""",
    "tp8_llm_pipeline" ->
      s"""WITH tok AS (SELECT doc_id, lang, unnest($toks) AS tok FROM documents),
         tot AS (SELECT count(*)::DOUBLE AS total FROM tok),
         top AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY 1
           ORDER BY cnt DESC, tok LIMIT 1000),
         sc AS (SELECT doc_id, lang,
           ln(COALESCE(top.cnt::DOUBLE, 0.5) / (SELECT total FROM tot)) AS lp
           FROM tok LEFT JOIN top USING (tok)),
         d AS (SELECT doc_id, lang, count(*) AS n_tokens,
           round(avg(lp), 6) AS score FROM sc GROUP BY 1, 2),
         th AS (SELECT lang,
           quantile_cont(score, (1::DOUBLE) / 3) AS t1 FROM d GROUP BY 1),
         kept AS (SELECT d.doc_id, d.lang, d.n_tokens FROM d
           JOIN th USING (lang) WHERE score > t1),
         c AS (SELECT lang, count(*) AS n FROM kept GROUP BY 1),
         w AS (SELECT sum(pow(n, 0.5)) AS wsum, sum(n) AS tot2 FROM c),
         r AS (SELECT lang,
           CAST(least(round(round(pow(n, 0.5) / wsum, 6) * 0.7 * tot2 / n
             * 10000, 0), 10000.0) AS INT) AS band
           FROM c, w),
         mx AS (SELECT kept.lang AS lang, doc_id, n_tokens FROM kept
           JOIN r USING (lang)
           WHERE ${fnvSql("CAST(doc_id AS VARCHAR)", 2166136261L)} % 10000 < band)
         SELECT lang, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum,
           CAST(sum(n_tokens) AS BIGINT) AS tok_sum
         FROM mx GROUP BY 1 ORDER BY lang""",
    "tp6_temperature_mixture" ->
      s"""WITH dom AS (SELECT doc_id,
           CASE WHEN CAST(regexp_extract(source, 'src(\\d+)', 1) AS INT) <= 11 THEN 'web'
                WHEN CAST(regexp_extract(source, 'src(\\d+)', 1) AS INT) <= 15 THEN 'books'
                WHEN CAST(regexp_extract(source, 'src(\\d+)', 1) AS INT) <= 18 THEN 'code'
                ELSE 'wiki' END AS domain
           FROM documents),
         c AS (SELECT domain, count(*) AS n FROM dom GROUP BY 1),
         w AS (SELECT sum(pow(n, 0.5)) AS wsum, sum(n) AS tot FROM c),
         r AS (SELECT domain, n, round(pow(n, 0.5) / wsum, 6) AS q_share,
           CAST(least(round(round(pow(n, 0.5) / wsum, 6) * 0.5 * tot / n * 10000, 0),
             10000.0) AS INT) AS keep_band
           FROM c, w),
         kept AS (SELECT dom.domain AS domain, doc_id, keep_band FROM dom
           JOIN r USING (domain)
           WHERE ${fnvSql("CAST(doc_id AS VARCHAR)", 2166136261L)} % 10000 < keep_band),
         k AS (SELECT domain, count(*) AS n_kept,
           CAST(sum(doc_id) AS BIGINT) AS id_sum FROM kept GROUP BY 1)
         SELECT r.domain AS domain, CAST(r.n AS BIGINT) AS n_docs, r.q_share,
           r.keep_band, k.n_kept, k.id_sum
         FROM r JOIN k USING (domain) ORDER BY domain""",
    "tp7_group_split" ->
      s"""WITH g AS (SELECT doc_id,
           regexp_replace(lower(text), '[ \\t\\n\\f\\r]+', ' ', 'g') AS norm
           FROM documents),
         reps AS (SELECT norm, min(doc_id) AS grp FROM g GROUP BY 1),
         sp AS (SELECT g.doc_id, reps.grp,
           CASE WHEN ${fnvSql("CAST(grp AS VARCHAR)", 2166136261L)} % 100 < 80 THEN 'train'
                WHEN ${fnvSql("CAST(grp AS VARCHAR)", 2166136261L)} % 100 < 90 THEN 'val'
                ELSE 'test' END AS split
           FROM g JOIN reps USING (norm)),
         leak AS (SELECT CAST(COALESCE(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END), 0)
             AS BIGINT) AS n_leaky
           FROM (SELECT grp, count(DISTINCT split) AS ns FROM sp GROUP BY 1))
         SELECT split, count(*) AS n_docs, count(DISTINCT grp) AS n_groups,
           CAST(sum(doc_id) AS BIGINT) AS id_sum,
           (SELECT n_leaky FROM leak) AS n_leaky_groups
         FROM sp GROUP BY 1 ORDER BY split""",
    "tp10_epoch_schedule" ->
      s"""WITH a AS (SELECT source,
           CAST(sum(len($toks)) AS BIGINT) AS avail_tokens,
           CAST(CAST(regexp_extract(source, 'src(\\d+)', 1) AS INT) + 1
             AS DOUBLE) AS w
           FROM documents GROUP BY source),
         t AS (SELECT source, avail_tokens,
           w / 210.0 * 60000 AS target FROM a)
         SELECT source, avail_tokens,
           round(target, 2) AS target_tokens,
           CAST(floor(target / avail_tokens) AS BIGINT) AS n_epochs,
           round((target - floor(target / avail_tokens) * avail_tokens)
             / avail_tokens, 6) AS frac_p
         FROM t ORDER BY source""",
    "tp3_token_budget" ->
      s"""WITH t AS (SELECT source, doc_id, CAST(len($toks) AS BIGINT) AS n_tokens,
           ${fnvSql("CAST(doc_id AS VARCHAR)", 2166136261L)} AS ord
           FROM documents),
         c AS (SELECT *, sum(n_tokens) OVER (ORDER BY ord, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cb FROM t)
         SELECT source, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum,
           CAST(sum(n_tokens) AS BIGINT) AS tok_sum
         FROM c WHERE COALESCE(cb, 0) + n_tokens <= 15000
         GROUP BY 1 ORDER BY source""",
    "tp11_quantile_norm" ->
      """WITH s AS (SELECT doc_id, source, CAST(n_chars AS DOUBLE) AS q
           FROM documents WHERE n_chars IS NOT NULL),
         pr AS (SELECT doc_id, source, q, percent_rank() OVER
           (PARTITION BY source ORDER BY q, doc_id) AS p FROM s),
         g AS (SELECT q, row_number() OVER (ORDER BY q, doc_id) AS rk
           FROM s),
         n AS (SELECT count(*) AS n FROM s)
         SELECT pr.doc_id, pr.source, round(pr.q, 6) AS raw_score,
           round(pr.p, 6) AS pct_rank, round(g.q, 6) AS norm_score
         FROM pr CROSS JOIN n JOIN g
           ON g.rk = CAST(floor(pr.p * (n.n - 1)) AS BIGINT) + 1
         ORDER BY pr.doc_id""",
    "t18_length_band" ->
      s"""WITH t AS (SELECT lang, doc_id,
           CAST(len($toks) AS BIGINT) AS n_tokens FROM documents),
         b AS (SELECT quantile_cont(n_tokens, 0.05) AS lo,
           quantile_cont(n_tokens, 0.95) AS hi FROM t)
         SELECT lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS tok_sum,
           CAST(sum(doc_id) AS BIGINT) AS id_sum
         FROM t, b WHERE n_tokens >= lo AND n_tokens <= hi
         GROUP BY 1 ORDER BY lang""",
    "sh1_shard_profile" ->
      s"""SELECT CAST(${fnvSql("CAST(doc_id AS VARCHAR)", 2166136261L)} % 8 AS INT)
           AS shard,
         count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum,
         CAST(sum(len(text)) AS BIGINT) AS n_chars
         FROM documents GROUP BY 1 ORDER BY shard""",
    "p20_stratified_sample" ->
      s"""SELECT source, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum,
         min(doc_id) AS id_min, max(doc_id) AS id_max
         FROM documents
         WHERE ${fnvSql("CAST(doc_id AS VARCHAR)", 2166136261L)} % 100 <
           CASE source WHEN 'src0' THEN 50 WHEN 'src1' THEN 10
             WHEN 'src2' THEN 100 WHEN 'src3' THEN 25 ELSE 5 END
         GROUP BY 1 ORDER BY source""",
    "pr1_column_profile" ->
      """SELECT 'o_custkey' AS "column", count(*) AS n_rows,
           count(CASE WHEN o_custkey IS NULL THEN 1 END) AS n_null,
           count(DISTINCT o_custkey) AS n_distinct,
           round(CAST(min(o_custkey) AS DOUBLE), 4) AS min_num,
           round(CAST(max(o_custkey) AS DOUBLE), 4) AS max_num,
           CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
         FROM orders
         UNION ALL
         SELECT 'o_orderpriority', count(*),
           count(CASE WHEN o_orderpriority IS NULL THEN 1 END),
           count(DISTINCT o_orderpriority),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           min(o_orderpriority), max(o_orderpriority)
         FROM orders
         UNION ALL
         SELECT 'o_orderstatus', count(*),
           count(CASE WHEN o_orderstatus IS NULL THEN 1 END),
           count(DISTINCT o_orderstatus),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           min(o_orderstatus), max(o_orderstatus)
         FROM orders
         UNION ALL
         SELECT 'o_totalprice', count(*),
           count(CASE WHEN o_totalprice IS NULL THEN 1 END),
           count(DISTINCT o_totalprice),
           round(CAST(min(o_totalprice) AS DOUBLE), 4),
           round(CAST(max(o_totalprice) AS DOUBLE), 4),
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
         FROM orders
         ORDER BY "column"""",
    "j7_bloom_prefilter" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
         round(sum(o_totalprice), 2) AS revenue,
         CAST(sum(o_orderkey) AS BIGINT) AS key_sum
         FROM orders JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
         GROUP BY 1 ORDER BY o_orderpriority""",
    "sql2_native_funcs" ->
      s"""WITH sh AS (SELECT doc_id, lang,
           len(list_distinct(CASE WHEN len($toks) >= 3
             THEN list_transform(range(0, len($toks) - 2),
                    i -> array_to_string(($toks)[i+1:i+3], ' '))
             ELSE [array_to_string($toks, ' ')] END)) AS ns
           FROM documents)
         SELECT lang, count(*) AS n_docs,
           CAST(sum(${fnvSql("CAST(doc_id AS VARCHAR)", 2166136261L)} % 97) AS BIGINT)
             AS id_hash_sum,
           CAST(sum(ns) AS BIGINT) AS n_shingles
         FROM sh GROUP BY lang ORDER BY lang""",
    "io10_versioned_publish" ->
      s"""SELECT 1 AS version, lang, count(*) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS id_sum,
           CAST(sum(len(text)) AS BIGINT) AS chars,
           CAST(sum(${fnvSql("text", 2166136261L)}) AS BIGINT) AS text_fnv_sum
         FROM documents WHERE lang = 'en' GROUP BY 2
         UNION ALL
         SELECT 2, lang, count(*),
           CAST(sum(doc_id) AS BIGINT),
           CAST(sum(len(text)) AS BIGINT),
           CAST(sum(${fnvSql("text", 2166136261L)}) AS BIGINT)
         FROM documents GROUP BY 2
         ORDER BY version, lang""",
    "t23_readability" ->
      s"""WITH m AS (SELECT source,
           len($toks)::DOUBLE AS w,
           len(regexp_extract_all(text, '[aeiouy]+'))::DOUBLE AS s
           FROM documents WHERE len($toks) > 0)
         SELECT source, count(*) AS n_docs,
           round(avg(s / w), 4) AS avg_syll_per_word,
           round(avg(w), 4) AS avg_words,
           round(avg(0.39 * w + 11.8 * (s / w) - 15.59), 4) AS avg_grade
         FROM m GROUP BY 1 ORDER BY source""",
    "a44_benford" ->
      """WITH c AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice)
             AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
           count(*) AS n
           FROM orders WHERE o_totalprice >= 1 GROUP BY 1),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM c)
         SELECT digit, n,
           round(n / tot, 6) AS observed_p,
           round(log10(1.0 + 1.0 / digit), 6) AS benford_p,
           round(pow(n - tot * log10(1.0 + 1.0 / digit), 2)
             / (tot * log10(1.0 + 1.0 / digit)), 4) AS chi2_term
         FROM c CROSS JOIN t ORDER BY digit""",
    "a42_percentile_ladder" ->
      """SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
           round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "a45_sorted_listagg" ->
      """SELECT o_orderpriority, count(*) AS n,
           string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus)
             AS statuses
         FROM orders GROUP BY 1 ORDER BY o_orderpriority""",
    "e8_label_coherence" ->
      """WITH e AS (SELECT vec_id, label,
           CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         c AS (SELECT label, i AS dim, round(avg(embedding[i+1]), 6) AS c
           FROM embeddings, range(0, 64) r(i) GROUP BY 1, 2),
         ca AS (SELECT label, list(c ORDER BY dim) AS ce FROM c GROUP BY 1),
         g AS (SELECT i AS dim, round(avg(embedding[i+1]), 6) AS c
           FROM embeddings, range(0, 64) r(i) GROUP BY 1),
         ga AS (SELECT list(c ORDER BY dim) AS ge FROM g),
         s AS (SELECT e.label,
           list_dot_product(v, ce) / (sqrt(list_dot_product(v, v))
             * sqrt(list_dot_product(ce, ce))) AS cl,
           list_dot_product(v, ge) / (sqrt(list_dot_product(v, v))
             * sqrt(list_dot_product(ge, ge))) AS cg
           FROM e JOIN ca USING (label) CROSS JOIN ga)
         SELECT label, count(*) AS n,
           round(avg(cl), 4) AS avg_cos_label,
           round(avg(cg), 4) AS avg_cos_global
         FROM s GROUP BY 1 ORDER BY label""",
    "e7_centroid_drift" ->
      """WITH c AS (SELECT label, i AS dim,
           round(avg(embedding[i+1]), 6) AS c
           FROM embeddings, range(0, 64) r(i) GROUP BY 1, 2),
         p AS (SELECT a.label AS label_a, b.label AS label_b,
           sum(a.c * b.c) AS ab, sum(a.c * a.c) AS aa,
           sum(b.c * b.c) AS bb
           FROM c a JOIN c b ON a.dim = b.dim AND a.label < b.label
           GROUP BY 1, 2)
         SELECT label_a, label_b,
           round(ab / (sqrt(aa) * sqrt(bb)), 6) AS cos_sim
         FROM p ORDER BY label_a, label_b""",
    "io1_partitioned_roundtrip" ->
      s"""SELECT lang, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum,
         CAST(sum(len(text)) AS BIGINT) AS chars,
         CAST(sum(${fnvSql("text", 2166136261L)}) AS BIGINT) AS text_fnv_sum
         FROM documents WHERE source = 'src1' GROUP BY 1 ORDER BY lang""",
    "io3_incremental_overwrite" ->
      s"""SELECT source, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum,
         CAST(sum(len(text)) AS BIGINT) AS chars,
         CAST(sum(${fnvSql("CASE WHEN source = 'src2' THEN upper(text) ELSE text END",
           2166136261L)}) AS BIGINT) AS text_fnv_sum
         FROM documents GROUP BY 1 ORDER BY source""",
    "io2_csv_roundtrip" ->
      s"""SELECT source, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum,
         CAST(sum(len(text)) AS BIGINT) AS chars,
         CAST(sum(${fnvSql("text", 2166136261L)}) AS BIGINT) AS text_fnv_sum
         FROM documents WHERE len(text) > 0 GROUP BY 1 ORDER BY source""",
    "io4_jsonl_roundtrip" ->
      s"""SELECT source, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum,
         CAST(sum(len(text)) AS BIGINT) AS chars,
         CAST(sum(${fnvSql("text", 2166136261L)}) AS BIGINT) AS text_fnv_sum
         FROM documents GROUP BY 1 ORDER BY source""",
    "io8_orc_roundtrip" ->
      s"""SELECT source, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum,
         CAST(sum(len(text)) AS BIGINT) AS chars,
         CAST(sum(${fnvSql("text", 2166136261L)}) AS BIGINT) AS text_fnv_sum
         FROM documents GROUP BY 1 ORDER BY source""",
    "st8_stream_running_stats" ->
      """SELECT user_id, count(*) AS n_events,
         round(max(value), 4) AS max_value,
         round(sum(value), 4) AS value_sum
         FROM events GROUP BY 1 ORDER BY user_id""",
    "pk1_sequence_packing" ->
      s"""WITH t AS (SELECT doc_id, CAST(len($toks) AS BIGINT) AS n FROM documents),
         c AS (SELECT doc_id, n,
           CAST(COALESCE(sum(n) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
           FROM t)
         SELECT CAST(cb // 512 AS BIGINT) AS seq_id, count(*) AS n_docs,
           CAST(sum(n) AS BIGINT) AS seq_tokens,
           min(doc_id) AS id_min, max(doc_id) AS id_max,
           CAST(sum(CASE WHEN (cb + greatest(n, 1) - 1) // 512 > cb // 512
             THEN 1 ELSE 0 END) AS BIGINT) AS n_straddlers
         FROM c GROUP BY 1 ORDER BY seq_id LIMIT 50""",
    "pc1_chunk_profile" ->
      """WITH t AS (SELECT doc_id, text, len(text) AS L FROM documents
           WHERE text IS NOT NULL AND len(text) > 0),
         n AS (SELECT doc_id, text,
           GREATEST(CAST(ceil((L - 40) / 88.0) AS BIGINT), 1) AS nc FROM t),
         ch AS (SELECT doc_id,
             unnest(list_transform(range(0, nc),
               i -> substring(text, CAST(i * 88 AS BIGINT) + 1, 128))) AS chunk
           FROM n)
         SELECT doc_id, count(*) AS n_chunks,
           CAST(sum(len(chunk)) AS BIGINT) AS chunk_chars,
           CAST(min(len(chunk)) AS BIGINT) AS min_chunk,
           CAST(max(len(chunk)) AS BIGINT) AS max_chunk
         FROM ch GROUP BY 1 ORDER BY doc_id LIMIT 100""",
    "sp1_hash_split" ->
      s"""WITH b AS (SELECT doc_id,
           ${fnvSql("CAST(doc_id AS VARCHAR)", 2166136261L)} % 100 AS band
           FROM documents),
         s AS (SELECT doc_id, CASE WHEN band < 90 THEN 'train'
           WHEN band < 95 THEN 'val' ELSE 'test' END AS split FROM b)
         SELECT split, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum,
           min(doc_id) AS id_min, max(doc_id) AS id_max
         FROM s GROUP BY 1 ORDER BY split""",
    "e1_int8_quant" ->
      """WITH d AS (SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         m AS (SELECT vec_id, v,
           list_max(list_transform(v, x -> abs(x))) AS mx FROM d),
         s AS (SELECT vec_id, v,
           CASE WHEN mx = 0 THEN 1.0 ELSE mx / 127.0 END AS scale FROM m),
         q AS (SELECT vec_id, v, scale,
           list_transform(v, x -> CAST(floor(x / scale + 0.5) AS BIGINT)) AS qv
           FROM s)
         SELECT vec_id, CAST(list_sum(qv) AS BIGINT) AS q_sum,
           CAST(list_min(qv) AS BIGINT) AS q_min,
           CAST(list_max(qv) AS BIGINT) AS q_max,
           list_max(list_transform(range(1, len(qv) + 1),
             i -> abs(v[i] - qv[i] * scale))) <= scale * 0.5 + 1e-12
             AS within_half_scale
         FROM q ORDER BY vec_id LIMIT 100""",
    "r1_bm25_topk" ->
      s"""WITH d AS (SELECT doc_id, $toks AS tk FROM documents),
         dd AS (SELECT doc_id, len(tk) AS dl, tk FROM d),
         nd AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dd),
         q AS (SELECT unnest(['hash', 'join', 'window', 'spark']) AS term),
         tf AS (SELECT doc_id, dl, term,
             len(list_filter(tk, x -> x = term)) AS tf
           FROM dd CROSS JOIN q),
         c AS (SELECT * FROM tf WHERE tf > 0),
         dfx AS (SELECT term, count(*) AS df FROM c GROUP BY 1),
         sc AS (SELECT doc_id,
             sum(ln(1 + (nd.n - dfx.df + 0.5) / (dfx.df + 0.5))
               * c.tf * (1.2 + 1.0)
               / (c.tf + 1.2 * (1.0 - 0.75 + 0.75 * c.dl / nd.avgdl))) AS score
           FROM c JOIN dfx USING (term) CROSS JOIN nd GROUP BY 1)
         SELECT doc_id, round(score, 6) AS bm25 FROM sc
         ORDER BY round(score, 6) DESC, doc_id LIMIT 25""",
    "r5_rrf_fusion" ->
      s"""WITH d AS (SELECT doc_id, $toks AS tk FROM documents),
         dd AS (SELECT doc_id, len(tk) AS dl, tk FROM d),
         nd AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dd),
         q AS (SELECT unnest(['hash', 'join', 'window', 'spark']) AS term),
         tf AS (SELECT doc_id, dl, term,
             len(list_filter(tk, x -> x = term)) AS tf
           FROM dd CROSS JOIN q),
         c AS (SELECT * FROM tf WHERE tf > 0),
         dfx AS (SELECT term, count(*) AS df FROM c GROUP BY 1),
         sc AS (SELECT doc_id,
             sum(ln(1 + (nd.n - dfx.df + 0.5) / (dfx.df + 0.5))
               * c.tf * (1.2 + 1.0)
               / (c.tf + 1.2 * (1.0 - 0.75 + 0.75 * c.dl / nd.avgdl))) AS score
           FROM c JOIN dfx USING (term) CROSS JOIN nd GROUP BY 1),
         lex AS (SELECT doc_id, rank_lex FROM
           (SELECT doc_id, row_number() OVER
              (ORDER BY round(score, 6) DESC, doc_id) AS rank_lex FROM sc)
           WHERE rank_lex <= 50),
         qv AS (SELECT CAST(embedding AS DOUBLE[]) AS q_emb
           FROM embeddings WHERE vec_id = 0),
         ds AS (SELECT e.vec_id AS doc_id,
             list_cosine_similarity(qv.q_emb,
               CAST(e.embedding AS DOUBLE[])) AS sim
           FROM embeddings e CROSS JOIN qv WHERE e.vec_id != 0),
         dense AS (SELECT doc_id, rank_dense FROM
           (SELECT doc_id, row_number() OVER
              (ORDER BY sim DESC, doc_id) AS rank_dense FROM ds)
           WHERE rank_dense <= 50),
         fused AS (SELECT COALESCE(l.doc_id, de.doc_id) AS doc_id,
             l.rank_lex, de.rank_dense,
             round(COALESCE(1.0 / (60 + l.rank_lex), 0)
               + COALESCE(1.0 / (60 + de.rank_dense), 0), 6) AS rrf_score
           FROM lex l FULL OUTER JOIN dense de ON l.doc_id = de.doc_id)
         SELECT doc_id, rank_lex, rank_dense, rrf_score FROM fused
         ORDER BY rrf_score DESC, doc_id LIMIT 20""",
    "t15_tfidf_top_terms" ->
      s"""WITH toks AS (SELECT doc_id, unnest($toks) AS term FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         nd AS (SELECT count(*) AS n_docs FROM documents),
         sc AS (SELECT tf.doc_id, tf.term,
             tf.tf * ln((nd.n_docs + 1.0) / (dfx.df + 1.0)) AS score,
             row_number() OVER (PARTITION BY tf.doc_id
               ORDER BY tf.tf * ln((nd.n_docs + 1.0) / (dfx.df + 1.0)) DESC,
                 tf.term) AS rk
           FROM tf JOIN dfx USING (term), nd)
         SELECT doc_id, term, round(score, 6) AS tfidf, rk
         FROM sc WHERE rk <= 3 AND doc_id < 50 ORDER BY doc_id, rk""",
    "t11_top_bigrams" ->
      s"""SELECT bigram, count(*) AS cnt FROM (
           SELECT unnest(CASE WHEN len($toks) >= 2
             THEN list_transform(range(0, len($toks) - 1),
                    i -> array_to_string(($toks)[i+1:i+2], ' '))
             ELSE [] END) AS bigram
           FROM documents)
         GROUP BY 1 ORDER BY cnt DESC, bigram LIMIT 50""",
    "t8_fingerprints" ->
      """SELECT doc_id, list_reduce(
           list_prepend(2166136261::BIGINT,
             list_transform(list_filter(string_split_regex(text, ''), c -> len(c) > 0),
               c -> ascii(c)::BIGINT)),
           (h, b) -> (xor(h, b) * 16777619) & 4294967295) AS fp
         FROM documents ORDER BY doc_id LIMIT 100""",
    "d1_dup_stats" ->
      """SELECT lang, count(*) AS n_docs, count(DISTINCT text) AS n_unique,
         round(1.0 - count(DISTINCT text)::DOUBLE / count(*), 6) AS dup_ratio
         FROM documents GROUP BY 1 ORDER BY lang""",
    "d2_exact_dedup" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies FROM documents
         GROUP BY text ORDER BY doc_id""",
    "d15_norm_dedup" ->
      """WITH aug AS (SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 100000, upper(replace(text, ' ', '  '))
           FROM documents WHERE doc_id % 10 = 0),
         k AS (SELECT doc_id, text,
           regexp_replace(lower(text), '[ \t\n\f\r]+', ' ', 'g') AS norm FROM aug),
         r AS (SELECT doc_id, len(text) AS text_len,
           row_number() OVER (PARTITION BY norm
             ORDER BY len(text) DESC, doc_id) AS rk,
           count(*) OVER (PARTITION BY norm) AS n_variants FROM k)
         SELECT n_variants, count(*) AS n_groups,
           CAST(sum(doc_id) AS BIGINT) AS id_sum,
           CAST(sum(text_len) AS BIGINT) AS len_sum
         FROM r WHERE rk = 1 GROUP BY 1 ORDER BY n_variants""",
    "d23_cross_source_dups" ->
      s"""WITH aug AS (SELECT text, source FROM documents
           UNION ALL
           SELECT upper(text), 'src' || CAST(
             (CAST(regexp_extract(source, 'src(\\d+)', 1) AS INT) + 1) % 20
             AS VARCHAR)
           FROM documents WHERE doc_id % 10 = 0),
         ds AS (SELECT DISTINCT
           regexp_replace(lower(text), '[ \\t\\n\\f\\r]+', ' ', 'g') AS norm,
           source FROM aug)
         SELECT a.source AS source_a, b.source AS source_b,
           count(*) AS n_shared
         FROM ds a JOIN ds b ON a.norm = b.norm AND a.source < b.source
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "d24_lang_conflicts" ->
      """WITH aug AS (SELECT text, lang FROM documents
           UNION ALL
           SELECT text, reverse(lang) FROM documents WHERE doc_id % 7 = 0),
         g AS (SELECT
             regexp_replace(lower(text), '[ \t\n\f\r]+', ' ', 'g') AS norm,
             count(DISTINCT lang) AS n_langs, count(*) AS n_docs
           FROM aug GROUP BY 1)
         SELECT n_langs, count(*) AS n_texts,
           CAST(sum(n_docs) AS BIGINT) AS n_docs
         FROM g GROUP BY 1 ORDER BY 1""",
    "d22_incremental_dedup" ->
      """WITH n AS (SELECT doc_id, lang,
           regexp_replace(lower(text), '[ \t\n\f\r]+', ' ', 'g') AS norm
           FROM documents),
         inc AS (SELECT * FROM n WHERE doc_id % 3 = 0),
         ex AS (SELECT DISTINCT norm FROM n WHERE doc_id % 3 != 0),
         fresh AS (SELECT inc.* FROM inc
           WHERE NOT EXISTS (SELECT 1 FROM ex WHERE ex.norm = inc.norm)),
         firsts AS (SELECT norm, min(doc_id) AS doc_id FROM fresh GROUP BY 1),
         acc AS (SELECT fresh.* FROM fresh JOIN firsts USING (norm, doc_id))
         SELECT lang, count(*) AS n_accepted, CAST(sum(doc_id) AS BIGINT) AS id_sum,
           min(doc_id) AS id_min, max(doc_id) AS id_max
         FROM acc GROUP BY 1 ORDER BY lang""",
    "z1_zorder_bucket" ->
      s"""WITH z AS (SELECT
           ${zorderSql(Seq("l_partkey % 256", "l_suppkey % 256"), 8)} AS zkey,
           l_orderkey FROM lineitem)
         SELECT CAST(floor(zkey / 256) AS BIGINT) AS z_bucket,
           count(*) AS n_rows, min(zkey) AS z_min, max(zkey) AS z_max,
           CAST(sum(l_orderkey) AS BIGINT) AS key_sum
         FROM z GROUP BY 1 ORDER BY z_bucket""",
    "d5_ngram_jaccard_topk" ->
      s"""WITH sh AS (SELECT doc_id, source,
           list_distinct(CASE WHEN len($toks) >= 3
             THEN list_transform(range(0, len($toks) - 2),
                    i -> array_to_string(($toks)[i+1:i+3], ' '))
             ELSE [array_to_string($toks, ' ')] END) AS s
           FROM documents)
         SELECT a.source AS source, a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(len(list_intersect(a.s, b.s))::DOUBLE /
             len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
         FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
         ORDER BY jaccard DESC, doc_a, doc_b LIMIT 20""",
    "d19_exact_substr" ->
      s"""WITH w AS (SELECT doc_id, $toks AS t FROM documents),
         p0 AS (SELECT doc_id, CASE WHEN len(t) >= 8 THEN
             list_transform(range(1, len(t) - 6),
               i -> struct_pack(pos := i, sh := array_to_string(t[i:i+7], ' ')))
           ELSE [] END AS ps FROM w),
         p1 AS (SELECT doc_id, unnest(ps) AS s FROM p0),
         p AS (SELECT doc_id, CAST(s.pos AS BIGINT) AS pos, s.sh AS sh FROM p1),
         d AS (SELECT sh FROM p GROUP BY sh HAVING count(*) >= 2),
         q AS (SELECT doc_id, pos FROM p WHERE sh IN (SELECT sh FROM d)),
         i AS (SELECT doc_id, pos,
           CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
                THEN 1 ELSE 0 END AS brk FROM q),
         j AS (SELECT doc_id, pos,
           sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM i)
         SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end,
           max(pos) + 7 - min(pos) + 1 AS span_len
         FROM j GROUP BY doc_id, island ORDER BY doc_id, span_start""",
    "d20_strip_spans" ->
      s"""WITH w AS (SELECT doc_id, $toks AS t FROM documents),
         p0 AS (SELECT doc_id, CASE WHEN len(t) >= 8 THEN
             list_transform(range(1, len(t) - 6),
               i -> struct_pack(pos := i, sh := array_to_string(t[i:i+7], ' ')))
           ELSE [] END AS ps FROM w),
         p1 AS (SELECT doc_id, unnest(ps) AS s FROM p0),
         p AS (SELECT doc_id, CAST(s.pos AS BIGINT) AS pos, s.sh AS sh FROM p1),
         d AS (SELECT sh FROM p GROUP BY sh HAVING count(*) >= 2),
         q AS (SELECT doc_id, pos FROM p WHERE sh IN (SELECT sh FROM d)),
         i AS (SELECT doc_id, pos,
           CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
                THEN 1 ELSE 0 END AS brk FROM q),
         j AS (SELECT doc_id, pos,
           sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM i),
         sp AS (SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
           FROM j GROUP BY doc_id, island),
         cov AS (SELECT doc_id, unnest(range(s, e + 1)) AS pos FROM sp),
         tk0 AS (SELECT doc_id, CASE WHEN len(t) >= 1 THEN
             list_transform(range(1, len(t) + 1),
               i -> struct_pack(pos := i, tok := t[i]))
           ELSE [] END AS ps FROM w),
         tk1 AS (SELECT doc_id, unnest(ps) AS s FROM tk0),
         tk AS (SELECT doc_id, CAST(s.pos AS BIGINT) AS pos, s.tok AS tok FROM tk1),
         kept AS (SELECT tk.doc_id, tk.pos, tk.tok FROM tk
           ANTI JOIN cov ON tk.doc_id = cov.doc_id AND tk.pos = cov.pos),
         ka AS (SELECT doc_id, count(*) AS n_after,
           string_agg(tok, ' ' ORDER BY pos) AS clean_text
           FROM kept GROUP BY doc_id),
         bf AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_before FROM w)
         SELECT sd.doc_id, bf.n_before,
           CAST(coalesce(ka.n_after, 0) AS BIGINT) AS n_after,
           coalesce(ka.clean_text, '') AS clean_text
         FROM (SELECT DISTINCT doc_id FROM sp) sd
         JOIN bf USING (doc_id) LEFT JOIN ka USING (doc_id)
         ORDER BY doc_id""",
    "d27_boilerplate_lines" ->
      """WITH lined AS MATERIALIZED (SELECT doc_id,
           replace(text, ' a ', '.' || chr(10)) AS text FROM documents),
         lx AS MATERIALIZED (SELECT doc_id,
           string_split(text, chr(10)) AS lines FROM lined),
         ln AS MATERIALIZED (SELECT doc_id,
           generate_subscripts(lines, 1) AS line_no, unnest(lines) AS line
           FROM lx),
         nrm AS MATERIALIZED (SELECT doc_id, line_no, line,
           lower(trim(line)) AS norm FROM ln),
         boiler AS MATERIALIZED (SELECT norm FROM
           (SELECT norm, count(DISTINCT doc_id) AS nd FROM nrm
            WHERE len(norm) > 0 GROUP BY 1) WHERE nd >= 3),
         kept AS (SELECT n.doc_id, n.line_no, n.line
           FROM nrm n ANTI JOIN boiler b ON n.norm = b.norm),
         agg AS (SELECT doc_id, count(*) AS n_kept,
           string_agg(line, chr(10) ORDER BY line_no) AS text
           FROM kept GROUP BY 1),
         base AS (SELECT doc_id, len(lines) AS n_lines FROM lx)
         SELECT b.doc_id, coalesce(a.text, '') AS text,
           CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(b.n_lines - coalesce(a.n_kept, 0) AS BIGINT) AS n_dropped
         FROM base b LEFT JOIN agg a USING (doc_id) ORDER BY b.doc_id""",
    "bpe1_merge_table" -> bpeMergeTableSql,
    // the driver-local training tier must learn the identical table
    "bpe6_local_train" -> bpeMergeTableSql,
    "bpe2_encoded_symbols" ->
      s"""WITH ${bpeRoundsSql(10)}
         SELECT symbol, CAST(cnt AS BIGINT) AS cnt FROM (
           SELECT symbol, sum(freq) AS cnt FROM (
             SELECT freq, unnest(list_filter(string_split(s, ' '),
               x -> len(x) > 0)) AS symbol FROM w10) GROUP BY 1)
         ORDER BY cnt DESC, symbol LIMIT 20""",
    "bpe3_cross_encode" -> bpeCrossEncodeSql,
    // save → load → encode must land on the fresh cross-encode answer
    "bpe5_bpe_model_roundtrip" -> bpeCrossEncodeSql,
    "bpe4_fertility" ->
      s"""WITH ${bpeRoundsSql(10)},
         seg AS (SELECT word,
           len(list_filter(string_split(s, ' '), x -> len(x) > 0)) AS n_sym
           FROM w10),
         lw AS (SELECT lang, tok AS word, count(*) AS freq FROM
           (SELECT lang, unnest($toks) AS tok FROM documents) GROUP BY 1, 2)
         SELECT lang, CAST(sum(freq) AS BIGINT) AS n_words,
           CAST(sum(freq * n_sym) AS BIGINT) AS n_symbols,
           round(sum(freq * n_sym)::DOUBLE / sum(freq), 6) AS fertility
         FROM lw JOIN seg USING (word) GROUP BY 1 ORDER BY lang""",
    "ug1_unigram_vocab" ->
      s"""WITH ${unigramRoundsSql()}
         SELECT piece, CAST(cnt AS BIGINT) AS cnt,
           CAST(floor(ln((cnt + 1) / (tot + vsz)) * 1048576) AS BIGINT)
             AS score_fp
         FROM uv3, (SELECT sum(cnt)::DOUBLE AS tot,
           count(*)::DOUBLE AS vsz FROM uv3)
         ORDER BY cnt DESC, piece""",
    "ug2_unigram_langstats" ->
      s"""WITH ${unigramRoundsSql()},
         useg AS (SELECT word, len(pieces) AS n_pieces,
           dps[n + 1] AS ll_fp FROM ub3_out),
         ulw AS (SELECT lang, word, count(*) AS wfreq FROM
           (SELECT lang, unnest($toks) AS word FROM documents)
           WHERE len(word) BETWEEN 1 AND 16 GROUP BY 1, 2)
         SELECT lang, CAST(sum(wfreq) AS BIGINT) AS n_words,
           CAST(sum(wfreq * n_pieces) AS BIGINT) AS n_pieces,
           CAST(sum(wfreq * ll_fp) AS BIGINT) AS ll_fp,
           round(sum(wfreq * n_pieces)::DOUBLE / sum(wfreq), 6) AS fertility
         FROM ulw JOIN useg USING (word) GROUP BY 1 ORDER BY 1""",
    "ug3_unigram_cross_segment" ->
      s"""WITH ${unigramRoundsSql()},
         usf AS MATERIALIZED (SELECT piece,
           CAST(floor(ln((cnt + 1) / (tot + vsz)) * 1048576) AS BIGINT) AS sc
           FROM uv3, (SELECT sum(cnt)::DOUBLE AS tot,
             count(*)::DOUBLE AS vsz FROM uv3)),
         uunk AS (SELECT
           CAST(floor(ln(1.0 / (tot + vsz)) * 1048576) AS BIGINT) AS unk
           FROM (SELECT sum(cnt)::DOUBLE AS tot,
             count(*)::DOUBLE AS vsz FROM uv3)),
         pw AS MATERIALIZED (SELECT word, freq, CAST(len(word) AS INT) AS n
           FROM (SELECT tok AS word, count(*) AS freq FROM
             (SELECT unnest(list_filter(string_split(p_name, ' '),
                x -> len(x) > 0)) AS tok FROM part) GROUP BY 1)
           WHERE len(word) BETWEEN 1 AND 16),
         pgrid AS MATERIALIZED (SELECT word, freq, n, i, l,
             CASE WHEN l <= i AND i <= n
                  THEN substr(word, i - l + 1, l) END AS piece
           FROM pw, range(1, 17) t1(i), range(1, 5) t2(l)),
         pg AS MATERIALIZED (SELECT g.word, any_value(g.freq) AS freq,
             any_value(g.n) AS n,
             list(CASE WHEN g.l = 1 AND g.piece IS NOT NULL
                  THEN coalesce(s.sc, (SELECT unk FROM uunk))
                  ELSE coalesce(s.sc, -1099511627776) END
               ORDER BY g.i, g.l) AS scs
           FROM pgrid g LEFT JOIN usf s ON s.piece = g.piece
           GROUP BY g.word),
         ${viterbiDpSql("pd", "pb", "pg", 16, 4)}
         SELECT piece, CAST(cnt AS BIGINT) AS cnt FROM (
           SELECT piece, sum(freq) AS cnt FROM
             (SELECT freq, unnest(pieces) AS piece FROM pb_out) GROUP BY 1)
         ORDER BY cnt DESC, piece LIMIT 20""",
    // save → load → segment must land on the fresh model's exact
    // per-word segmentations, reading order included
    "ug4_unigram_model_roundtrip" -> unigramRoundtripSql,
    "d18_jaro_winkler" ->
      """WITH r AS (SELECT p_brand, p_name, lead(p_name) OVER (
             PARTITION BY p_brand ORDER BY p_name, p_partkey) AS nxt
           FROM part),
         j AS (SELECT p_brand, jaro_winkler_similarity(p_name, nxt) AS jw
           FROM r WHERE nxt IS NOT NULL)
         SELECT p_brand, count(*) AS n_near, round(avg(jw), 6) AS avg_jw
         FROM j WHERE jw >= 0.95 GROUP BY 1 ORDER BY p_brand""",
    "d17_prefix_filter_join" ->
      s"""WITH sh AS (SELECT doc_id,
           list_distinct(CASE WHEN len($toks) >= 5
             THEN list_transform(range(0, len($toks) - 4),
                    i -> array_to_string(($toks)[i+1:i+5], ' '))
             ELSE [array_to_string($toks, ' ')] END) AS s
           FROM documents),
         post AS (SELECT doc_id, unnest(s) AS g FROM sh),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM post a JOIN post b
             ON a.g = b.g AND a.doc_id < b.doc_id),
         scored AS (SELECT doc_a, doc_b,
           round(len(list_intersect(x.s, y.s))::DOUBLE /
             len(list_distinct(list_concat(x.s, y.s))), 6) AS jaccard
           FROM cand JOIN sh x ON x.doc_id = doc_a
             JOIN sh y ON y.doc_id = doc_b)
         SELECT doc_a, doc_b, jaccard FROM scored
         WHERE jaccard >= 0.6 ORDER BY doc_a, doc_b""",
    "d16_sorted_neighborhood" ->
      s"""WITH sh AS (SELECT doc_id, lang, n_chars,
           list_distinct(CASE WHEN len($toks) >= 3
             THEN list_transform(range(0, len($toks) - 2),
                    i -> array_to_string(($toks)[i+1:i+3], ' '))
             ELSE [array_to_string($toks, ' ')] END) AS s
           FROM documents),
         r AS (SELECT doc_id, lang, s,
           row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn
           FROM sh),
         p AS (SELECT a.lang,
           least(a.doc_id, b.doc_id) AS doc_a,
           greatest(a.doc_id, b.doc_id) AS doc_b,
           round(len(list_intersect(a.s, b.s))::DOUBLE /
             len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
           FROM r a JOIN r b
             ON a.lang = b.lang AND b.rn - a.rn BETWEEN 1 AND 3)
         SELECT lang, doc_a, doc_b, jaccard FROM p
         WHERE jaccard >= 0.2 ORDER BY lang, doc_a, doc_b""",
    "d8_dup_components" -> dupComponentsSql,
    // the star-contraction twin must land on the IDENTICAL component
    // census — same oracle, different distributed algorithm
    "d21_components_star" -> dupComponentsSql,
    "a26_heavy_hitters" ->
      """SELECT user_id, count(*) AS cnt FROM events GROUP BY 1
         HAVING count(*) > (SELECT count(*) FROM events) * 0.008
         ORDER BY cnt DESC, user_id""",
    // full independent reimplementation of the reproducible minhash-LSH
    // pipeline: FNV shingle hashes -> (a·h+b) mod p signatures (frozen
    // constants inlined) -> 16-band banding on raw slices -> oversize-
    // bucket star guard -> pair dedup -> agreement scoring
    "d3_minhash_pairs" ->
      s"""$minhashFnvPipeline
         SELECT doc_a, doc_b, est_jaccard FROM est WHERE est_jaccard >= 0.5
         ORDER BY est_jaccard DESC, doc_a, doc_b LIMIT 1000""",
    "d29_cross_corpus_neardups" -> crossCorpusSql,
    "st12_stream_neardup_screen" -> crossCorpusSql,
    // save → load → screen must land on the fresh screen's exact answer
    "io16_band_index_screen" -> crossCorpusSql,
    // build(⅓) → save → load → compact(⅓) → save → load → screen(⅓)
    // must land on the fresh full build's exact answer
    "io17_band_index_compact" -> crossCorpusSql,
    // build(⅓) → save → append(⅙) → append(⅙) → load → screen(⅓)
    // through the append-only persistence path must land on the same
    // fresh-full-build answer
    "io18_band_index_append" -> crossCorpusSql,
    // save → append → SNAPSHOT (new version) → append → load → screen
    // must land on the same fresh-full-build answer
    "io19_band_index_snapshot" -> crossCorpusSql,
    // growing-corpus screen: incoming×corpus (corpus-side guard, as in
    // d29) UNION incoming×incoming (unguarded band self-join — the
    // stateful side refuses loudly instead of degrading), canonically
    // (min,max)-oriented
    "st14_stream_growing_screen" -> growingScreenSql,
    // the screen from a SAVED-then-RELOADED (and compacted) index must
    // land on the inline screen's exact answer
    "st16_stream_screen_from_index" -> growingScreenSql,
    // time-bounded growing screen: identical to st14's oracle except
    // the incoming×incoming side carries the 120 s horizon (ts = epoch
    // + doc_id seconds, so the predicate is a doc_id difference); the
    // corpus side is a snapshot — horizon-free on both engines
    "st15_stream_windowed_screen" -> windowedScreenSql,
    // the same horizon-restricted screen from a saved-then-appended
    // index must land on the inline form's exact answer
    "st17_stream_windowed_screen_from_index" -> windowedScreenSql,
    "d13_neardup_editdist" ->
      s"""$minhashFnvPipeline,
         p AS (SELECT doc_a, doc_b FROM est WHERE est_jaccard >= 0.5
               ORDER BY doc_a, doc_b LIMIT 1000)
         SELECT p.doc_a AS doc_a, p.doc_b AS doc_b,
           CAST(levenshtein(substring(da.text, 1, 120),
                            substring(db.text, 1, 120)) AS BIGINT) AS lev
         FROM p
         JOIN documents da ON p.doc_a = da.doc_id
         JOIN documents db ON p.doc_b = db.doc_id
         ORDER BY doc_a, doc_b""",
    // invariant gate over the xxhash64 scale path: the FNV pair count is
    // re-derived by the full independent pipeline above; the booleans are
    // demanded true — engine-side they are computed from the actual
    // xxhash64 pair set (superset coverage + exact-Jaccard verification),
    // so a hash-family regression or banding bug fails the gate loudly
    "d9_minhash_xxh" ->
      s"""$minhashFnvPipeline
         SELECT count(*) AS n_fnv_pairs,
           true AS xxh_covers_all_fnv_pairs,
           true AS xxh_pairs_are_true_neardups
         FROM est WHERE est_jaccard >= 0.5""",
    // independent reimplementation of the reproducible simhash pipeline:
    // packed dual-FNV 63-bit token hashes -> per-bit vote -> 16-bit
    // chunk banding -> star guard -> popcount verify
    "d4_simhash_pairs" ->
      s"""WITH tok AS (SELECT doc_id, unnest(list_distinct($toks)) AS t FROM documents),
         th AS (SELECT DISTINCT doc_id,
             ${fnvSql("t", 2166136261L)} |
             ((${fnvSql("t", 3561277584L)} & 2147483647) << 32) AS h
           FROM tok),
         bits AS (SELECT doc_id, j,
             sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
           FROM th, range(0, 63) r(j) GROUP BY 1, 2),
         shv AS (SELECT doc_id,
             CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT)
               AS simhash
           FROM bits GROUP BY 1),
         banded AS (SELECT doc_id, simhash, b AS band,
             (simhash >> (b*16)) & 65535 AS chunk
           FROM shv, range(0, 4) r(b)),
         bsz AS (SELECT band, chunk, count(*) AS n, min(doc_id) AS rep
           FROM banded GROUP BY 1, 2),
         wsz AS (SELECT banded.doc_id, banded.simhash, banded.band, banded.chunk,
             bsz.n, bsz.rep
           FROM banded JOIN bsz USING (band, chunk)),
         cand_small AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS sa, b.simhash AS sb
           FROM (SELECT * FROM wsz WHERE n <= 64) a
           JOIN (SELECT * FROM wsz WHERE n <= 64) b USING (band, chunk)
           WHERE a.doc_id < b.doc_id),
         cand_star AS (SELECT w.rep AS doc_a, w.doc_id AS doc_b,
             h.simhash AS sa, w.simhash AS sb
           FROM wsz w JOIN shv h ON h.doc_id = w.rep
           WHERE w.n > 64 AND w.doc_id != w.rep),
         cands AS (SELECT DISTINCT doc_a, doc_b, sa, sb FROM
           (SELECT * FROM cand_small UNION ALL SELECT * FROM cand_star))
         SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
         FROM cands WHERE bit_count(xor(sa, sb)) <= 8
         ORDER BY doc_a, doc_b LIMIT 1000""",
    "d6_strip_dup_segments" ->
      s"""WITH segs AS (SELECT doc_id,
           unnest(range(0, CAST(ceil(len($toks) / 10.0) AS INT))) AS seg_idx,
           unnest(list_transform(range(0, CAST(ceil(len($toks) / 10.0) AS INT)),
             i -> array_to_string(($toks)[i*10+1:i*10+10], ' '))) AS segment
           FROM documents),
         firsts AS (SELECT doc_id, seg_idx, segment FROM segs
           QUALIFY row_number() OVER (PARTITION BY segment ORDER BY doc_id, seg_idx) = 1)
         SELECT doc_id, string_agg(segment, ' ' ORDER BY seg_idx) AS text
         FROM firsts GROUP BY 1 ORDER BY doc_id""",
    "d7_segment_dup_stats" ->
      s"""WITH segs AS (SELECT source,
           unnest(list_transform(range(0, CAST(ceil(len($toks) / 10.0) AS INT)),
             i -> array_to_string(($toks)[i*10+1:i*10+10], ' '))) AS segment
           FROM documents)
         SELECT source, count(*) AS n_segments, count(DISTINCT segment) AS n_unique,
           round(1.0 - count(DISTINCT segment)::DOUBLE / count(*), 6) AS dup_ratio
         FROM segs GROUP BY 1 ORDER BY source""",
    // exact side re-derived independently; the sketch-error boolean is
    // demanded true (engine computes |approx-exact| <= 3·rsd·exact)
    "d10_segment_dup_approx" ->
      s"""WITH segs AS (SELECT source,
           unnest(list_transform(range(0, CAST(ceil(len($toks) / 10.0) AS INT)),
             i -> array_to_string(($toks)[i*10+1:i*10+10], ' '))) AS segment
           FROM documents)
         SELECT source, count(*) AS n_segments, count(DISTINCT segment) AS n_unique,
           true AS approx_within_3rsd
         FROM segs GROUP BY 1 ORDER BY source""",
    "t12_vocab_approx" ->
      s"""SELECT lang, count(*) AS n_tokens, count(DISTINCT tok) AS vocab_exact,
           true AS approx_within_3rsd
         FROM (SELECT lang, unnest($toks) AS tok FROM documents)
         GROUP BY 1 ORDER BY lang""",
    // the decode STUB is deterministic byte math and the corpus is pure
    // ASCII (bytes == character codes), so even the stubbed multimodal
    // features pin to the oracle
    "m2_multimodal_features" ->
      """WITH chars AS (SELECT doc_id,
           list_transform(list_filter(string_split_regex(text, ''), c -> len(c) > 0),
             c -> ascii(c)::BIGINT) AS bs
           FROM documents)
         SELECT doc_id, CAST(len(bs) AS INT) AS n_bytes,
           CAST(len(bs) // 100 + 1 AS INT) AS n_frames,
           CASE WHEN len(bs) > 0 THEN list_avg(bs) ELSE 0.0 END AS mean_byte,
           CASE WHEN len(bs) > 0 THEN CAST(bs[1] AS INT) ELSE -1 END AS first_byte
         FROM chars ORDER BY doc_id LIMIT 100""",
    "m5_frame_checksums" ->
      s"""WITH fr AS (SELECT doc_id, source, unnest(
             list_transform(
               list_filter(range(0, CAST(ceil(len(text) / 64.0) AS INT)),
                 i -> i % 2 = 0),
               i -> substr(text, CAST(i AS INT) * 64 + 1, 64))) AS frame
           FROM documents WHERE len(text) > 0),
         sc AS (SELECT source, len(frame) AS fb,
           ${fnvSql("frame", 2166136261L)} AS h FROM fr)
         SELECT source, count(*) AS n_frames,
           CAST(sum(fb) AS BIGINT) AS bytes_kept,
           CAST(sum(h) AS BIGINT) AS fnv_sum
         FROM sc GROUP BY 1 ORDER BY source""",
    "m1_payload_stats" ->
      """SELECT source, count(*) AS n_docs,
         CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
         round(avg(octet_length(encode(text))),4) AS avg_bytes
         FROM documents GROUP BY 1 ORDER BY source""",
    "x7_taxi_monthly_trend" ->
      """WITH raw AS (SELECT
           ts + to_months(CAST(event_id % 6 AS INT)) AS pickup_ts,
           ts + to_months(CAST(event_id % 6 AS INT))
             + to_minutes(event_id % 1500) AS dropoff_ts,
           CASE WHEN event_id % 97 = 0 THEN NULL
                ELSE ((event_id * 7) % 620 - 10)::DOUBLE END AS distance_mi,
           CASE WHEN event_id % 89 = 0 THEN NULL
                ELSE ((event_id * 13) % 210 - 10)::DOUBLE END AS fare
         FROM events),
         cl AS (SELECT * FROM raw
           WHERE pickup_ts IS NOT NULL AND dropoff_ts IS NOT NULL
             AND dropoff_ts > pickup_ts
             AND date_diff('second', pickup_ts, dropoff_ts) / 60.0 > 0.5
             AND date_diff('second', pickup_ts, dropoff_ts) / 60.0 < 1440
             AND (distance_mi IS NULL OR (distance_mi > 0 AND distance_mi < 500))
             AND (fare IS NULL OR fare >= 0)),
         monthly AS (SELECT strftime(pickup_ts, '%Y-%m') AS pickup_ym,
           count(*) AS trip_count, round(avg(fare), 4) AS avg_fare
           FROM cl GROUP BY 1),
         base AS (SELECT trip_count AS base_count FROM monthly
           ORDER BY pickup_ym LIMIT 1)
         SELECT pickup_ym, trip_count, avg_fare,
           round(trip_count * 100.0 / base_count, 4) AS pct_of_baseline
         FROM monthly, base ORDER BY pickup_ym""",
    "x1_taxi_hourly_fare" ->
      s"""$taxiYellowCleaned
         SELECT CAST(hour(pickup_ts) AS INT) AS pickup_hour,
           round(avg(CASE WHEN distance_mi > 0 THEN fare / distance_mi END), 4)
             AS avg_fare_per_mile,
           count(*) AS trip_count
         FROM cl GROUP BY 1 ORDER BY pickup_hour""",
    "x2_taxi_trips_by_dow" ->
      s"""$taxiYellowCleaned
         SELECT strftime(pickup_ts, '%a') AS pickup_dow, count(*) AS trip_count
         FROM cl GROUP BY 1 ORDER BY pickup_dow""",
    "x3_taxi_busiest_pickup" ->
      s"""$taxiYellowCleaned
         SELECT pu_zone, count(*) AS trip_count FROM cl GROUP BY 1
         ORDER BY trip_count DESC, pu_zone LIMIT 100""",
    "x4_taxi_busiest_dropoff" ->
      s"""$taxiYellowCleaned
         SELECT do_zone, count(*) AS trip_count FROM cl GROUP BY 1
         ORDER BY trip_count DESC, do_zone LIMIT 100""",
    // the same four corruption classes, parsed with try_cast — NULL on
    // bad strings, microsecond-exact checksum on good ones
    "x12_tolerant_parse" ->
      """WITH raw AS (SELECT event_id,
           CASE WHEN event_id % 4 = 0 THEN strftime(ts, '%Y-%m-%d %H:%M:%S')
                WHEN event_id % 4 = 1
                  THEN 'garbage-' || CAST(event_id % 10 AS VARCHAR)
                WHEN event_id % 4 = 2 THEN ''
                ELSE strftime(ts, '%Y-%m-%d') END AS pu,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS dof,
           CASE WHEN event_id % 5 = 0 THEN 'oops'
                ELSE CAST(event_id % 50 AS VARCHAR) END AS fare
           FROM events),
         p AS (SELECT try_cast(pu AS TIMESTAMP) AS pts,
           try_cast(dof AS TIMESTAMP) AS dts,
           try_cast(fare AS DOUBLE) AS f FROM raw)
         SELECT count(*) AS n_rows, count(pts) AS n_parsed,
           CAST(count(*) - count(pts) AS BIGINT) AS n_null,
           CAST(sum(epoch_us(pts) % 1000000007) AS BIGINT) AS ts_checksum,
           count(dts) AS n_dropoff_parsed,
           count(f) AS n_fare_parsed, round(sum(f), 4) AS fare_sum
         FROM p""",
    "x11_cleaning_audit" ->
      s"""$taxiYellowCleaned,
         c AS (SELECT *, date_diff('second', pickup_ts, dropoff_ts) / 60.0
             AS duration_min FROM raw),
         rej AS (SELECT count(*) AS n_raw,
           count(CASE WHEN pickup_ts IS NULL OR dropoff_ts IS NULL
                 OR dropoff_ts <= pickup_ts THEN 1 END) AS rej_ts_sanity,
           count(CASE WHEN dropoff_ts > pickup_ts AND duration_min <= 0.5
                 THEN 1 END) AS rej_dur_short,
           count(CASE WHEN dropoff_ts > pickup_ts AND duration_min >= 1440
                 THEN 1 END) AS rej_dur_long,
           count(CASE WHEN distance_mi IS NOT NULL
                 AND (distance_mi <= 0 OR distance_mi >= 500) THEN 1 END)
             AS rej_distance,
           count(CASE WHEN fare < 0 THEN 1 END) AS rej_fare
           FROM c),
         surv AS (SELECT count(*) AS n_survivors,
           round(min(duration_min), 4) AS dur_min,
           round(max(duration_min), 4) AS dur_max,
           round(avg(duration_min), 4) AS dur_avg,
           round(avg(distance_mi / (duration_min / 60.0)), 4) AS speed_avg
           FROM cl)
         SELECT * FROM rej, surv""",
    "x6_zone_borough_join" ->
      s"""$taxiYellowCleaned,
         zones AS (SELECT i AS LocationID,
           (['EWR','Manhattan','Brooklyn','Queens','Bronx','Staten Island'])[i % 6 + 1]
             AS Borough
           FROM range(1, 266) r(i))
         SELECT Borough, count(*) AS trip_count,
           round(sum(coalesce(fare, 0)), 2) AS fare_sum,
           round(avg(distance_mi), 4) AS avg_distance
         FROM cl JOIN zones ON cl.pu_zone = zones.LocationID
         GROUP BY 1 ORDER BY Borough""",
    "x5_taxi_multi_schema_union" ->
      """WITH base AS (SELECT event_id, user_id, event_type, value, ts,
           ts + to_minutes(event_id % 1500) AS dropoff_ts,
           date_diff('second', ts, ts + to_minutes(event_id % 1500)) / 60.0 AS dur,
           CASE WHEN event_id % 97 = 0 THEN NULL
                ELSE ((event_id * 7) % 620 - 10)::DOUBLE END AS dist,
           CASE WHEN event_id % 89 = 0 THEN NULL
                ELSE ((event_id * 13) % 210 - 10)::DOUBLE END AS fare
         FROM events),
         ok AS (SELECT * FROM base
           WHERE ts IS NOT NULL AND dropoff_ts > ts AND dur > 0.5 AND dur < 1440),
         y AS (SELECT 'yellow' AS cab_type, dist AS distance_mi, fare,
             coalesce(fare, 0) + value AS total
           FROM ok WHERE event_type = 'click'
             AND (dist IS NULL OR (dist > 0 AND dist < 500))
             AND (fare IS NULL OR fare >= 0)),
         g AS (SELECT 'green' AS cab_type, dist AS distance_mi, fare,
             coalesce(fare, 0) + value AS total
           FROM ok WHERE event_type = 'signup'
             AND (dist IS NULL OR (dist > 0 AND dist < 500))
             AND (fare IS NULL OR fare >= 0)),
         f AS (SELECT 'fhv' AS cab_type, NULL::DOUBLE AS distance_mi,
             NULL::DOUBLE AS fare, NULL::DOUBLE AS total
           FROM ok WHERE event_type = 'view'),
         h AS (SELECT 'fhvhv' AS cab_type, dist AS distance_mi, fare,
             coalesce(fare, 0) + (event_id % 7) + (event_id % 3) + (event_id % 9)
               + (event_id % 11)
               + coalesce(CASE WHEN event_id % 13 = 0 THEN NULL
                               ELSE event_id % 5 END, 0)
               + (event_id % 23) AS total
           FROM ok WHERE event_type = 'purchase'
             AND (dist IS NULL OR (dist > 0 AND dist < 500))
             AND (fare IS NULL OR fare >= 0)),
         u AS (SELECT * FROM y UNION ALL SELECT * FROM g
               UNION ALL SELECT * FROM f UNION ALL SELECT * FROM h)
         SELECT cab_type, count(*) AS n_trips,
           count(CASE WHEN fare IS NULL THEN 1 END) AS n_null_fare,
           count(CASE WHEN distance_mi IS NULL THEN 1 END) AS n_null_dist,
           round(sum(coalesce(total, 0)), 2) AS total_sum
         FROM u GROUP BY 1 ORDER BY cab_type""",
    "m3_real_decode" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 100),
         px AS (SELECT doc_id, ((doc_id*31 + x.range*7 + y.range*13) % 256) AS p
           FROM ids, range(0,16) x, range(0,16) y
           WHERE x.range < doc_id % 16 + 1 AND y.range < (doc_id // 16) % 16 + 1)
         SELECT doc_id, CAST(doc_id % 16 + 1 AS INT) AS width,
           CAST((doc_id // 16) % 16 + 1 AS INT) AS height,
           round(avg(p), 6) AS mean_px
         FROM px GROUP BY doc_id ORDER BY doc_id""",
    "m6_audio_features" ->
      """WITH d AS (SELECT doc_id, 200 + doc_id % 57 AS n
           FROM documents WHERE doc_id < 100),
         s AS (SELECT doc_id, n, unnest(range(0, CAST(n AS INT))) AS i FROM d),
         v AS (SELECT doc_id, n, i,
           (doc_id * 131 + i * 73) % 4001 - 2000 AS x FROM s),
         w AS (SELECT doc_id, n, x,
           lag(x) OVER (PARTITION BY doc_id ORDER BY i) AS px FROM v)
         SELECT doc_id, CAST(8000 AS INT) AS sample_rate,
           CAST(max(n) AS BIGINT) AS n_samples,
           round(sqrt(avg(CAST(x AS DOUBLE) * x)), 6) AS rms,
           CAST(sum(CASE WHEN px IS NOT NULL AND px * x < 0
             THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
           CAST(max(abs(x)) AS INT) AS peak
         FROM w GROUP BY doc_id ORDER BY doc_id""",
    "m4_real_resize" ->
      """WITH dims AS (SELECT doc_id, doc_id % 16 + 1 AS w,
             (doc_id // 16) % 16 + 1 AS h,
             greatest(1, (doc_id % 16 + 1) // 2) AS dw,
             greatest(1, ((doc_id // 16) % 16 + 1) // 2) AS dh
           FROM documents WHERE doc_id < 100),
         px AS (SELECT doc_id, dw, dh,
             ((doc_id*31 + ((x.range * w) // dw)*7
                         + ((y.range * h) // dh)*13) % 256) AS p
           FROM dims, range(0,16) x, range(0,16) y
           WHERE x.range < dw AND y.range < dh)
         SELECT doc_id, CAST(dw AS INT) AS width, CAST(dh AS INT) AS height,
           round(avg(p), 6) AS mean_px
         FROM px GROUP BY doc_id, dw, dh ORDER BY doc_id""",
    // invariant oracles for the seeded/iterative gates (ml5/p6 pattern):
    // the oracle pins what it CAN compute (exact row counts over the
    // same feature domain) and DEMANDS the booleans the Spark side
    // machine-checks — every gate is now pinned, zero rows-only
    "dq1_quality_report" ->
      """WITH m AS (SELECT count(*) AS n_rows,
           count(CASE WHEN l_quantity IS NULL THEN 1 END) AS v0,
           count(CASE WHEN l_quantity IS NOT NULL
             AND (l_quantity < 1 OR l_quantity > 50) THEN 1 END) AS v1,
           count(CASE WHEN l_returnflag IS NOT NULL
             AND l_returnflag NOT IN ('A','N','R') THEN 1 END) AS v2,
           count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS v3,
           count(CASE WHEN NOT coalesce(l_extendedprice >= 0, true)
             THEN 1 END) AS v4
         FROM lineitem)
         SELECT * FROM (
           SELECT 'not_null(l_quantity)' AS rule, n_rows,
             v0 AS n_violations, v0 = 0 AS pass FROM m
           UNION ALL SELECT 'in_range(l_quantity,1.0,50.0)', n_rows, v1, v1 = 0 FROM m
           UNION ALL SELECT 'in_set(l_returnflag)', n_rows, v2, v2 = 0 FROM m
           UNION ALL SELECT 'unique(l_orderkey,l_linenumber)', n_rows, v3, v3 = 0 FROM m
           UNION ALL SELECT 'satisfies(price_nonneg)', n_rows, v4, v4 = 0 FROM m
         ) ORDER BY rule""",
    "dq2_unique_approx" ->
      """SELECT * FROM (
           SELECT 'unique(o_orderkey)' AS rule,
             count(*) AS n_rows, true AS pass FROM orders
           UNION ALL SELECT 'unique_approx(o_orderkey)',
             count(*), true FROM orders
           UNION ALL SELECT 'unique_approx(o_custkey)',
             count(*), false FROM orders
         ) ORDER BY rule""",
    "ml3_isolation_forest" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_scored,
         true AS scores_in_unit, true AS anomaly_rate_in_tol,
         true AS flagged_more_extreme
         FROM events WHERE value IS NOT NULL AND NOT isnan(value)
           AND ts IS NOT NULL""",
    "ml4_kmeans_profile" ->
      """SELECT CAST(r.range AS INT) AS cluster_rank,
         (SELECT CAST(count(*) AS BIGINT) FROM events
           WHERE value IS NOT NULL AND value > -1 AND ts IS NOT NULL) AS n_total,
         true AS nonempty, true AS centroid_in_hull,
         true AS centroids_distinct, true AS no_worse_than_global
         FROM range(0, 4) r ORDER BY cluster_rank""",
    "p18_sample_raw" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_source,
         true AS ids_unique_subset, true AS cnt_in_bounds,
         true AS avg_in_range
         FROM events""",
    "g16_link_prediction" ->
      """WITH e0 AS (SELECT DISTINCT
           o_custkey AS a, 20000 + o_orderkey % 19997 AS b
           FROM orders),
         deg AS (SELECT n, count(*) AS d FROM
           (SELECT a AS n FROM e0 UNION ALL SELECT b AS n FROM e0)
           GROUP BY 1),
         adj AS (SELECT a AS z, b AS n FROM e0
           UNION ALL SELECT b AS z, a AS n FROM e0),
         wed AS (SELECT a1.n AS u, a2.n AS w, dz.d AS dz
           FROM adj a1 JOIN adj a2 ON a1.z = a2.z AND a1.n < a2.n
           JOIN deg dz ON dz.n = a1.z),
         sc AS (SELECT u, w, count(*) AS n_common,
             sum(1.0 / ln(dz)) AS aa FROM wed GROUP BY 1, 2),
         ne AS (SELECT sc.* FROM sc LEFT JOIN e0
             ON e0.a = sc.u AND e0.b = sc.w
           WHERE e0.a IS NULL)
         SELECT u, w, n_common,
           round(n_common / (du.d + dw.d - n_common), 6) AS jaccard,
           round(aa, 6) AS adamic_adar
         FROM ne JOIN deg du ON du.n = ne.u JOIN deg dw ON dw.n = ne.w
         ORDER BY adamic_adar DESC, u, w LIMIT 20""",
    "er2_fs_weights" ->
      """WITH r AS (SELECT c_custkey AS id, c_nationkey AS blk,
           c_mktsegment AS seg,
           CAST(floor(c_acctbal / 1000) AS BIGINT) AS band,
           right(c_name, 1) AS tail FROM customer),
         p AS (SELECT CAST(l.seg = r2.seg AS INT) AS g_seg,
             CAST(l.band = r2.band AS INT) AS g_band,
             CAST(l.tail = r2.tail AS INT) AS g_tail
           FROM r l JOIN r r2 ON l.blk = r2.blk AND l.id < r2.id),
         u AS (SELECT avg(g_seg) AS u_seg, avg(g_band) AS u_band,
             avg(g_tail) AS u_tail FROM p),
         pat AS (SELECT g_seg, g_band, g_tail, count(*) AS n_pairs
           FROM p GROUP BY 1, 2, 3)
         SELECT g_seg, g_band, g_tail, n_pairs,
           round((CASE WHEN g_seg = 1 THEN ln(0.95::DOUBLE / u_seg) / ln(2.0::DOUBLE)
               ELSE ln((1 - 0.95::DOUBLE) / (1 - u_seg)) / ln(2.0::DOUBLE) END)
             + (CASE WHEN g_band = 1 THEN ln(0.8::DOUBLE / u_band) / ln(2.0::DOUBLE)
               ELSE ln((1 - 0.8::DOUBLE) / (1 - u_band)) / ln(2.0::DOUBLE) END)
             + (CASE WHEN g_tail = 1 THEN ln(0.9::DOUBLE / u_tail) / ln(2.0::DOUBLE)
               ELSE ln((1 - 0.9::DOUBLE) / (1 - u_tail)) / ln(2.0::DOUBLE) END),
             4) AS weight
         FROM pat CROSS JOIN u
         ORDER BY weight DESC, g_seg, g_band, g_tail""",
    "w29_seasonal_mase" ->
      """WITH s AS (SELECT event_type, CAST(ts AS DATE) AS day,
           avg(value) AS v FROM events GROUP BY 1, 2),
         l AS (SELECT event_type, v,
             lag(v, 7) OVER (PARTITION BY event_type ORDER BY day) AS lm,
             lag(v, 1) OVER (PARTITION BY event_type ORDER BY day) AS l1
           FROM s)
         SELECT event_type, count(lm) AS n_scored,
           round(avg(abs(v - lm)), 6) AS mae_seasonal,
           round(avg(abs(v - l1)), 6) AS mae_naive1,
           round(avg(abs(v - lm)) / avg(abs(v - l1)), 6) AS mase
         FROM l GROUP BY 1 ORDER BY event_type""",
    "w30_holt_forecast" ->
      """WITH RECURSIVE s AS (SELECT event_type, CAST(ts AS DATE) AS day,
           avg(value) AS v FROM events GROUP BY 1, 2),
         o AS (SELECT event_type, v, row_number()
             OVER (PARTITION BY event_type ORDER BY day) AS rn FROM s),
         rec AS (
           SELECT event_type, rn, v AS l, CAST(0 AS DOUBLE) AS b,
             CAST(0 AS DOUBLE) AS sse
           FROM o WHERE rn = 1
           UNION ALL
           SELECT o.event_type, o.rn,
             0.3 * o.v + 0.7 * (rec.l + rec.b),
             0.1 * ((0.3 * o.v + 0.7 * (rec.l + rec.b)) - rec.l)
               + 0.9 * rec.b,
             rec.sse + (o.v - (rec.l + rec.b)) * (o.v - (rec.l + rec.b))
           FROM rec JOIN o ON o.event_type = rec.event_type
             AND o.rn = rec.rn + 1),
         n AS (SELECT event_type, max(rn) AS nn FROM o GROUP BY 1)
         SELECT r.event_type AS event_type, CAST(n.nn AS BIGINT) AS n_obs,
           round(r.l, 6) AS level, round(r.b, 6) AS trend,
           round(r.sse, 6) AS sse, round(r.l + r.b, 6) AS fcst_1,
           round(r.l + 2.0 * r.b, 6) AS fcst_2,
           round(r.l + 3.0 * r.b, 6) AS fcst_3
         FROM rec r JOIN n ON n.event_type = r.event_type AND r.rn = n.nn
         ORDER BY 1""",
    "ml18_conformal" ->
      """WITH f AS (SELECT l_extendedprice AS y, l_quantity AS x1,
           l_discount AS x2, l_orderkey % 10 AS sp FROM lineitem),
         m AS (SELECT covar_pop(x1, y) AS c1y, covar_pop(x2, y) AS c2y,
             covar_pop(x1, x2) AS c12, var_pop(x1) AS v1,
             var_pop(x2) AS v2, avg(y) AS my, avg(x1) AS m1,
             avg(x2) AS m2, count(*) AS n_train
           FROM f WHERE sp < 6),
         fit AS (SELECT n_train,
             round((v2 * c1y - c12 * c2y) / (v1 * v2 - c12 * c12), 6) AS b1,
             round((v1 * c2y - c12 * c1y) / (v1 * v2 - c12 * c12), 6) AS b2,
             my, m1, m2 FROM m),
         fit2 AS (SELECT n_train, b1, b2,
             round(my - b1 * m1 - b2 * m2, 6) AS b0 FROM fit),
         q AS (SELECT count(*) AS n_calib,
             round(quantile_cont(
               round(abs(y - (b0 + b1 * x1 + b2 * x2)), 6), 0.9), 6) AS q_hat
           FROM f CROSS JOIN fit2 WHERE sp IN (6, 7))
         SELECT f2.n_train, q.n_calib, count(*) AS n_eval, q.q_hat,
           CAST(sum(CASE WHEN round(abs(y - (b0 + b1 * x1 + b2 * x2)), 6)
               <= q.q_hat THEN 1 ELSE 0 END) AS BIGINT) AS covered,
           round(sum(CASE WHEN round(abs(y - (b0 + b1 * x1 + b2 * x2)), 6)
               <= q.q_hat THEN 1 ELSE 0 END) / count(*), 4) AS coverage,
           round(2.0 * q.q_hat, 6) AS avg_width
         FROM f CROSS JOIN fit2 f2 CROSS JOIN q
         WHERE sp >= 8
         GROUP BY 1, 2, 4""",
    "a50_theil_sen" ->
      """WITH s AS (SELECT l_returnflag AS g,
           CAST((year(l_shipdate) - 1995) * 12 + month(l_shipdate) - 1
             AS DOUBLE) AS x,
           avg(l_extendedprice) AS y
           FROM lineitem GROUP BY 1, 2),
         sl AS (SELECT a.g, (b.y - a.y) / (b.x - a.x) AS s
           FROM s a JOIN s b ON a.g = b.g AND a.x < b.x),
         m AS (SELECT g, count(*) AS n_pairs, quantile_cont(s, 0.5) AS mm
           FROM sl GROUP BY 1),
         r AS (SELECT s.g, count(*) AS n_points, max(m.n_pairs) AS n_pairs,
             max(m.mm) AS mm, quantile_cont(s.y - m.mm * s.x, 0.5) AS bb
           FROM s JOIN m ON m.g = s.g GROUP BY 1)
         SELECT g AS l_returnflag, n_points, n_pairs,
           round(mm, 6) AS ts_slope, round(bb, 6) AS ts_intercept
         FROM r ORDER BY l_returnflag""",
    "w32_max_concurrency" ->
      """WITH iv AS (SELECT event_type,
           CAST(floor(epoch(ts)) AS BIGINT) AS s,
           CAST(floor(epoch(ts)) AS BIGINT)
             + CAST(floor(abs(value)) AS BIGINT) + 1 AS e
           FROM events
           WHERE ts IS NOT NULL AND value IS NOT NULL AND NOT isnan(value)),
         ev AS (SELECT event_type, s AS t, 1 AS d FROM iv
           UNION ALL SELECT event_type, e AS t, -1 AS d FROM iv),
         run AS (SELECT event_type, t, d,
             sum(d) OVER (PARTITION BY event_type ORDER BY t, d
               ROWS UNBOUNDED PRECEDING) AS r
           FROM ev),
         pk AS (SELECT event_type, max(r) AS peak FROM run GROUP BY 1)
         SELECT r.event_type AS event_type,
           CAST(count(*) / 2 AS BIGINT) AS n_intervals,
           CAST(max(pk.peak) AS BIGINT) AS peak,
           min(CASE WHEN r.r = pk.peak THEN r.t END) AS peak_at
         FROM run r JOIN pk ON pk.event_type = r.event_type
         GROUP BY 1 ORDER BY 1""",
    "er4_blocking_quality" ->
      """WITH n AS (SELECT count(*) AS nr,
           count(*) * (count(*) - 1) // 2 AS ap FROM customer),
         cand AS (SELECT COALESCE(sum(c * (c - 1) // 2), 0) AS cd
           FROM (SELECT count(*) AS c FROM customer GROUP BY c_nationkey)),
         tr AS (SELECT COALESCE(sum(c * (c - 1) // 2), 0) AS tp
           FROM (SELECT count(*) AS c FROM customer
             GROUP BY c_custkey % 60)),
         cap AS (SELECT COALESCE(sum(c * (c - 1) // 2), 0) AS cp
           FROM (SELECT count(*) AS c FROM customer
             GROUP BY c_custkey % 60, c_nationkey))
         SELECT nr AS n_records, CAST(ap AS BIGINT) AS n_all_pairs,
           CAST(cd AS BIGINT) AS n_candidates,
           CAST(tp AS BIGINT) AS n_true_pairs,
           CAST(cp AS BIGINT) AS n_captured,
           CASE WHEN ap > 0
             THEN round(1.0 - cd / CAST(ap AS DOUBLE), 6) END
             AS reduction_ratio,
           CASE WHEN tp > 0
             THEN round(cp / CAST(tp AS DOUBLE), 6) END
             AS pairs_completeness
         FROM n CROSS JOIN cand CROSS JOIN tr CROSS JOIN cap""",
    "g17_edge_embeddedness" ->
      """WITH e0 AS (SELECT DISTINCT
           least(o_custkey % 3000, o_orderkey % 2999) AS a,
           greatest(o_custkey % 3000, o_orderkey % 2999) AS b
           FROM orders WHERE o_custkey % 3000 <> o_orderkey % 2999),
         tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM e0 e1
           JOIN e0 e2 ON e2.a = e1.a AND e2.b > e1.b
           JOIN e0 e3 ON e3.a = e1.b AND e3.b = e2.b),
         te AS (SELECT x AS a, y AS b FROM tri
           UNION ALL SELECT x AS a, z AS b FROM tri
           UNION ALL SELECT y AS a, z AS b FROM tri),
         pe AS (SELECT a, b, count(*) AS emb FROM te GROUP BY 1, 2),
         ed AS (SELECT COALESCE(pe.emb, 0) AS embeddedness
           FROM e0 LEFT JOIN pe ON pe.a = e0.a AND pe.b = e0.b)
         SELECT CAST(embeddedness AS BIGINT) AS embeddedness,
           count(*) AS n_edges
         FROM ed GROUP BY 1 ORDER BY 1""",
    "u12_cdc_compaction" ->
      """WITH log AS (SELECT o_orderkey % 200 AS k, o_orderkey AS seq,
           CASE WHEN o_orderkey % 7 = 0 THEN 'insert'
             WHEN o_orderkey % 7 < 4 THEN 'update'
             ELSE 'delete' END AS op,
           CASE WHEN o_orderkey % 7 <> 0 THEN o_totalprice END AS before,
           CASE WHEN o_orderkey % 7 < 4 THEN o_totalprice + 1 END AS after
           FROM orders),
         ends AS (SELECT k, min(seq) AS fs, max(seq) AS ls
           FROM log GROUP BY 1),
         j AS (SELECT e.k, f.op AS fop, l.op AS lop,
             f.before AS fb, l.after AS la
           FROM ends e
           JOIN log f ON f.k = e.k AND f.seq = e.fs
           JOIN log l ON l.k = e.k AND l.seq = e.ls),
         net AS (SELECT k,
             CASE WHEN fop <> 'insert' AND lop <> 'delete' THEN 'update'
               WHEN fop <> 'insert' THEN 'delete'
               WHEN lop <> 'delete' THEN 'insert' END AS op,
             CASE WHEN fop <> 'insert' THEN fb END AS before,
             CASE WHEN lop <> 'delete' THEN la END AS after
           FROM j)
         SELECT k, op, before, after FROM net
         WHERE op IS NOT NULL
           AND NOT (op = 'update' AND before IS NOT DISTINCT FROM after)
         ORDER BY k""",
    "er3_fs_em" ->
      s"""WITH r AS (SELECT c_custkey AS id, c_nationkey AS blk,
           c_mktsegment AS seg,
           CAST(floor(c_acctbal / 1000) AS BIGINT) AS band,
           right(c_name, 1) AS tail FROM customer),
         p AS (SELECT CAST(l.seg = r2.seg AS INT) AS g_seg,
             CAST(l.band = r2.band AS INT) AS g_band,
             CAST(l.tail = r2.tail AS INT) AS g_tail
           FROM r l JOIN r r2 ON l.blk = r2.blk AND l.id < r2.id),
         c AS (SELECT g_seg, g_band, g_tail, count(*) AS n
           FROM p GROUP BY 1, 2, 3),
         tot AS (SELECT CAST(sum(n) AS DOUBLE) AS nn FROM c),
         ${fsEmSql(Seq("seg", "band", "tail"), iters = 3)}""",
    "mb2_sequence_pairs" ->
      """WITH f AS (SELECT user_id, event_type, min(ts) AS t FROM events
           WHERE user_id IS NOT NULL AND ts IS NOT NULL
             AND event_type IS NOT NULL
           GROUP BY 1, 2),
         tot AS (SELECT CAST(count(DISTINCT user_id) AS DOUBLE) AS ns FROM f),
         p AS (SELECT a.event_type AS ant, b.event_type AS cons,
             sum(CASE WHEN a.t < b.t THEN 1 ELSE 0 END) AS n_ordered,
             count(*) AS n_both
           FROM f a JOIN f b ON a.user_id = b.user_id
             AND a.event_type <> b.event_type
           GROUP BY 1, 2)
         SELECT ant, cons, CAST(n_ordered AS BIGINT) AS n_ordered, n_both,
           round(n_ordered / n_both, 6) AS ordered_share,
           round(n_ordered / ns, 6) AS support
         FROM p CROSS JOIN tot WHERE n_ordered > 0
         ORDER BY ant, cons""",
    "u11_incremental_agg" ->
      """WITH survivors AS (SELECT o_orderstatus AS k,
           CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice * 1.1
             ELSE o_totalprice END AS v
           FROM orders WHERE o_orderkey % 11 <> 0),
         ins AS (SELECT o_orderstatus AS k, o_totalprice + 5 AS v
           FROM orders WHERE o_orderkey % 17 = 0),
         m AS (SELECT * FROM survivors UNION ALL SELECT * FROM ins)
         SELECT k AS o_orderstatus, count(*) AS n,
           round(sum(v), 0) AS total,
           round(sum(v) / count(*), 4) AS avg_value
         FROM m GROUP BY 1 ORDER BY 1""",
    "a51_mann_kendall" ->
      """WITH s AS (SELECT l_returnflag AS g,
           CAST((year(l_shipdate) - 1995) * 12 + month(l_shipdate) - 1
             AS DOUBLE) AS x,
           avg(l_extendedprice) AS y
           FROM lineitem GROUP BY 1, 2),
         pr AS (SELECT a.g, sign(b.y - a.y) AS sg
           FROM s a JOIN s b ON a.g = b.g AND a.x < b.x),
         st AS (SELECT g, CAST(sum(sg) AS BIGINT) AS s_stat,
             count(*) AS n_pairs FROM pr GROUP BY 1),
         tg AS (SELECT g, y, count(*) AS t FROM s GROUP BY 1, 2),
         ti AS (SELECT g, sum(t * (t - 1) * (2 * t + 5)) AS tie_term,
             sum(t * (t - 1) / 2) AS tied_pairs,
             CAST(sum(t) AS BIGINT) AS n_points FROM tg GROUP BY 1),
         j AS (SELECT st.g, ti.n_points, st.s_stat,
             (CAST(ti.n_points AS DOUBLE) * (CAST(ti.n_points AS DOUBLE) - 1)
               * (2.0 * CAST(ti.n_points AS DOUBLE) + 5) - ti.tie_term)
               / 18.0 AS var_s,
             st.n_pairs, ti.tied_pairs
           FROM st JOIN ti ON ti.g = st.g)
         SELECT g AS l_returnflag, n_points, s_stat,
           round(var_s, 6) AS var_s,
           round(CASE WHEN s_stat > 0
               THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(var_s)
             WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(var_s)
             ELSE 0.0 END, 6) AS z,
           round(CAST(s_stat AS DOUBLE)
             / (sqrt(CAST(n_pairs AS DOUBLE))
               * sqrt(CAST(n_pairs - tied_pairs AS DOUBLE))), 6) AS tau_b
         FROM j ORDER BY l_returnflag""",
    "w31_seasonal_decompose" ->
      """WITH s AS (SELECT event_type, CAST(ts AS DATE) AS day,
           avg(value) AS v FROM events GROUP BY 1, 2),
         o AS (SELECT event_type, v,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn,
             avg(v) OVER (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS tr,
             count(*) OVER (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS cnt
           FROM s),
         d AS (SELECT event_type, (rn - 1) % 7 AS phase, v - tr AS dd
           FROM o WHERE cnt = 7),
         raw AS (SELECT event_type, phase, count(*) AS n_obs,
             avg(dd) AS sr FROM d GROUP BY 1, 2),
         c AS (SELECT event_type, avg(sr) AS cc FROM raw GROUP BY 1)
         SELECT raw.event_type AS event_type, CAST(phase AS INT) AS phase,
           n_obs, round(sr - cc, 6) AS seasonal_index
         FROM raw JOIN c ON c.event_type = raw.event_type
         ORDER BY 1, 2""",
    "ml21_poisson_bootstrap" ->
      s"""WITH e AS (SELECT event_id, event_type, value FROM events
           WHERE value IS NOT NULL AND NOT isnan(value)),
         r AS (SELECT event_type, value, event_id,
             unnest(range(0, 48)) AS b FROM e),
         h AS (SELECT event_type, value, b,
             (${fnvSql("CAST(event_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)",
               2166136261L)} % 10000) / 10000.0 AS u
           FROM r),
         w AS (SELECT event_type, b, value,
             CASE WHEN u < 0.36787944117144233 THEN 0
               WHEN u < 0.7357588823428847 THEN 1
               WHEN u < 0.9196986029286058 THEN 2
               WHEN u < 0.9810118431238462 THEN 3
               WHEN u < 0.996340153172656 THEN 4
               ELSE 5 END AS w
           FROM h),
         m AS (SELECT event_type, b, sum(w * value) / sum(w) AS mm
           FROM w GROUP BY 1, 2),
         base AS (SELECT event_type, count(*) AS n_rows, avg(value) AS mean
           FROM e GROUP BY 1)
         SELECT base.event_type AS event_type, n_rows,
           round(mean, 6) AS mean,
           round(quantile_cont(mm, 0.025), 6) AS boot_lo,
           round(quantile_cont(mm, 0.5), 6) AS boot_mid,
           round(quantile_cont(mm, 0.975), 6) AS boot_hi
         FROM base JOIN m ON m.event_type = base.event_type
         GROUP BY 1, 2, 3 ORDER BY 1""",
    "z3_hilbert_bucket" ->
      s"""WITH ${graft.operators.Hilbert.hilbertSql2(
             "l_partkey % 16", "l_suppkey % 16", 4,
             "FROM lineitem", "l_orderkey")}
         SELECT CAST(floor(d / 16) AS BIGINT) AS h_bucket,
           count(*) AS n_rows, CAST(min(d) AS BIGINT) AS h_min,
           CAST(max(d) AS BIGINT) AS h_max,
           CAST(sum(l_orderkey) AS BIGINT) AS key_sum
         FROM h4 GROUP BY 1 ORDER BY h_bucket""",
    // Kaplan-Meier product-limit estimator: risk sets from a cumulative
    // window over the duration-level table; survival via exp∘sum∘ln
    // with the d == n_risk row pinned to exactly 0 (ln(0) guard)
    "ml20_kaplan_meier" ->
      """WITH a AS (SELECT user_id, CAST(ts AS DATE) AS day
           FROM events WHERE value > 150),
         u AS (SELECT user_id, min(day) AS f, max(day) AS l FROM a GROUP BY 1),
         m AS (SELECT max(l) AS mx FROM u),
         s AS (SELECT datediff('day', f, l) AS dur,
             CASE WHEN datediff('day', l, (SELECT mx FROM m)) >= 7
               THEN 1 ELSE 0 END AS ev FROM u),
         g AS (SELECT dur, CAST(sum(ev) AS BIGINT) AS d,
             CAST(count(*) - sum(ev) AS BIGINT) AS c FROM s GROUP BY 1),
         r AS (SELECT dur, d, c,
             CAST((SELECT count(*) FROM s) - coalesce(sum(d + c) OVER
               (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS BIGINT) AS n_risk FROM g),
         k AS (SELECT dur, d, n_risk,
             CASE WHEN d >= n_risk THEN 0.0
               ELSE exp(sum(ln(CASE WHEN d < n_risk
                 THEN 1.0 - CAST(d AS DOUBLE) / n_risk ELSE 1.0 END))
                 OVER (ORDER BY dur)) END AS surv
           FROM r WHERE d > 0)
         SELECT CAST(dur AS INT) AS duration_days, n_risk, d AS n_events,
           round(surv, 4) AS survival
         FROM k ORDER BY 1""",
    // rank-1 ALS round: the integer-valued init factor keeps the user
    // half-step's sums exact, so both engines divide identical doubles
    "ml19_als_rank1" ->
      """WITH r AS (SELECT o.o_custkey AS u, l.l_partkey % 50 AS i,
             l.l_quantity AS r
           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
         uf AS (SELECT u,
             sum(r * (1.0 + i % 7)) /
               (1.0 + sum((1.0 + i % 7) * (1.0 + i % 7))) AS f
           FROM r GROUP BY 1)
         SELECT CAST(r.i AS BIGINT) AS item, count(*) AS n_ratings,
           round(sum(r.r * uf.f) / (1.0 + sum(uf.f * uf.f)), 4) AS factor
         FROM r JOIN uf USING (u) GROUP BY 1 ORDER BY 1""",
    // linear multi-touch attribution with a 'direct' remainder bucket
    "at1_linear_attribution" ->
      """WITH conv AS (SELECT event_id, user_id, ts, value FROM events
           WHERE event_type = 'purchase'),
         tch AS (SELECT user_id, ts, event_type FROM events
           WHERE event_type <> 'purchase'),
         pairs AS (SELECT c.event_id, c.value, t.event_type AS touch_type
           FROM conv c JOIN tch t ON c.user_id = t.user_id
             AND t.ts < c.ts AND t.ts >= c.ts - INTERVAL 3 DAY),
         cnt AS (SELECT event_id, count(*) AS n_touch FROM pairs GROUP BY 1),
         credited AS (SELECT p.touch_type, p.value / n.n_touch AS v
           FROM pairs p JOIN cnt n USING (event_id)),
         direct AS (SELECT 'direct' AS touch_type, value AS v FROM conv
           WHERE event_id NOT IN (SELECT event_id FROM cnt))
         SELECT touch_type, count(*) AS n_touches,
           round(sum(v), 4) AS attributed_value
         FROM (SELECT * FROM credited UNION ALL SELECT * FROM direct)
         GROUP BY 1 ORDER BY 1""",
    // exact trailing-7-day distinct users per occurring day
    "w33_rolling_distinct" ->
      """WITH p AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
           FROM events WHERE value > 250),
         d AS (SELECT DISTINCT day FROM p)
         SELECT strftime(d.day, '%Y-%m-%d') AS day,
           count(DISTINCT p.user_id) AS users_7d
         FROM d JOIN p ON p.day BETWEEN d.day - 6 AND d.day
         GROUP BY 1 ORDER BY 1""",
    // compaction bins by cumulative size over the (bytes, path) order
    "io12_compaction_plan" ->
      """WITH f AS (SELECT source || '/' || lang AS path,
             CAST(sum(n_chars) AS BIGINT) AS bytes
           FROM documents GROUP BY 1),
         t AS (SELECT CAST(ceil(sum(bytes) / 6.0) AS BIGINT) AS target FROM f),
         cb AS (SELECT path, bytes,
             CAST(coalesce(sum(bytes) OVER (ORDER BY bytes, path
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_before FROM f)
         SELECT CAST(floor(CAST(cum_before AS DOUBLE) / t.target) AS INT)
             AS bin,
           count(*) AS n_files, CAST(sum(bytes) AS BIGINT) AS bytes,
           round(CAST(sum(bytes) AS DOUBLE) / t.target, 4) AS fill_ratio
         FROM cb, t GROUP BY 1, t.target ORDER BY 1""",
    // reloaded-index search ≡ fresh-index search, bit-exact
    "io14_ivf_persist" ->
      """SELECT CAST(50 AS BIGINT) AS n_rows, CAST(10 AS BIGINT) AS n_queries,
         true AS match_exact""",
    // independent DESCRIBE replay of the footer-only schema census —
    // name + type for every column of every fixture table
    "io15_schema_census" -> {
      val perTable = graft.sources.Tables.names.map(t =>
        s"SELECT '$t' AS tbl, column_name AS col, lower(column_type) AS dtype" +
          s" FROM (DESCRIBE SELECT * FROM $t)").mkString(" UNION ALL ")
      s"SELECT tbl, col, dtype FROM ($perTable) ORDER BY tbl, col"
    },
    // every manifest number recomputed straight from documents — a
    // Manifest.append/read escaping or error-count defect fails the hash
    "io13_manifest_check" ->
      """WITH s AS (SELECT source, lang, count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS bytes
           FROM documents GROUP BY 1, 2),
         t AS (SELECT CAST(sum(CASE WHEN n_docs % 3 = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS mec FROM s)
         SELECT source, count(*) AS n_files,
           CAST(sum(CASE WHEN n_docs % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_downloaded,
           CAST(sum(bytes) AS BIGINT) AS total_bytes,
           CAST(sum(n_docs) AS BIGINT) AS total_docs,
           CAST(sum(CASE WHEN n_docs % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_errors,
           t.mec AS manifest_error_count
         FROM s, t GROUP BY source, t.mec ORDER BY source""",
    // sample Pearson CCF between the two daily count series per lag
    "w34_lead_lag_corr" ->
      """WITH a AS (SELECT CAST(ts AS DATE) AS day, count(*) AS x
           FROM events WHERE event_type = 'click' GROUP BY 1),
         b AS (SELECT CAST(ts AS DATE) AS day, count(*) AS y
           FROM events WHERE event_type = 'purchase' GROUP BY 1),
         l AS (SELECT * FROM (VALUES (-3),(-2),(-1),(0),(1),(2),(3)) t(lag))
         SELECT l.lag, count(*) AS n_days, round(corr(a.x, b.y), 4) AS ccf
         FROM l JOIN a ON true JOIN b ON b.day = a.day + l.lag
         GROUP BY 1 ORDER BY 1""",
    // exact interpolating percentiles over microsecond-exact latencies
    "f2_funnel_latency" ->
      """WITH p1_fa AS (SELECT user_id, min(ts) AS ta FROM events
           WHERE event_type = 'signup' GROUP BY 1),
         p1_c AS (SELECT fa.user_id, fa.ta, min(e.ts) AS tb
           FROM p1_fa fa JOIN events e ON e.user_id = fa.user_id
             AND e.event_type = 'click' AND e.ts >= fa.ta GROUP BY 1, 2),
         p1_l AS (SELECT (epoch_us(tb) - epoch_us(ta)) / 60000000.0 AS lat
           FROM p1_c),
         p2_fa AS (SELECT user_id, min(ts) AS ta FROM events
           WHERE event_type = 'click' GROUP BY 1),
         p2_c AS (SELECT fa.user_id, fa.ta, min(e.ts) AS tb
           FROM p2_fa fa JOIN events e ON e.user_id = fa.user_id
             AND e.event_type = 'purchase' AND e.ts >= fa.ta GROUP BY 1, 2),
         p2_l AS (SELECT (epoch_us(tb) - epoch_us(ta)) / 60000000.0 AS lat
           FROM p2_c)
         SELECT 'signup->click' AS step,
           (SELECT count(*) FROM p1_fa) AS n_entered,
           (SELECT count(*) FROM p1_c) AS n_converted,
           round(quantile_cont(lat, 0.5), 4) AS median_minutes,
           round(quantile_cont(lat, 0.9), 4) AS p90_minutes FROM p1_l
         UNION ALL
         SELECT 'click->purchase',
           (SELECT count(*) FROM p2_fa),
           (SELECT count(*) FROM p2_c),
           round(quantile_cont(lat, 0.5), 4),
           round(quantile_cont(lat, 0.9), 4) FROM p2_l
         ORDER BY step""",
    // growth joined on COMPUTED prior-period keys; totals rounded
    // before the ratios
    "w35_period_growth" ->
      """WITH m AS (SELECT strftime(o_orderdate, '%Y-%m') AS month,
             round(sum(o_totalprice), 4) AS revenue
           FROM orders GROUP BY 1),
         k AS (SELECT month, revenue,
             strftime(CAST(month || '-01' AS DATE) - INTERVAL 1 MONTH,
               '%Y-%m') AS prev_m,
             strftime(CAST(month || '-01' AS DATE) - INTERVAL 12 MONTH,
               '%Y-%m') AS prev_y
           FROM m)
         SELECT k.month, k.revenue,
           round((k.revenue - pm.revenue) / pm.revenue, 4) AS mom_pct,
           round((k.revenue - py.revenue) / py.revenue, 4) AS yoy_pct
         FROM k LEFT JOIN m pm ON pm.month = k.prev_m
           LEFT JOIN m py ON py.month = k.prev_y
         ORDER BY 1""",
    // per ordered pair: confidence = Σ_x max_y n(x,y) / N (TANE g3)
    "dq5_approx_fds" -> {
      val cols = Seq("lang", "source", "band")
      val pairSql = (for {
        x <- cols; y <- cols if x != y
      } yield
        s"""SELECT '$x' AS det, '$y' AS dep, count(*) AS n_det_values,
             round(CAST(sum(mx) AS DOUBLE) / (SELECT n FROM nn), 6)
               AS confidence FROM
             (SELECT x, max(c) AS mx FROM
               (SELECT $x AS x, $y AS y, count(*) AS c FROM d GROUP BY 1, 2)
              GROUP BY 1)""").mkString(" UNION ALL ")
      s"""WITH d AS (SELECT lang, source,
             CAST(floor(n_chars / 500) AS BIGINT) AS band FROM documents),
         nn AS (SELECT count(*) AS n FROM d)
         $pairSql ORDER BY det, dep"""
    },
    // per-item top-3 by rounded basket cosine, neighbor-id tie-break
    "mb3_item_item_cf" ->
      """WITH bk AS (SELECT DISTINCT l_orderkey AS bk, l_partkey % 40 AS item
           FROM lineitem),
         m AS (SELECT item, count(*) AS n FROM bk GROUP BY 1),
         p AS (SELECT a.item AS item, b.item AS other, count(*) AS n_both
           FROM bk a JOIN bk b ON a.bk = b.bk AND a.item <> b.item
           GROUP BY 1, 2),
         s AS (SELECT p.item, p.other, p.n_both,
             round(p.n_both / sqrt(mx.n * my.n), 6) AS cosine
           FROM p JOIN m mx ON mx.item = p.item
             JOIN m my ON my.item = p.other),
         r AS (SELECT *, row_number() OVER
             (PARTITION BY item ORDER BY cosine DESC, other) AS rank FROM s)
         SELECT CAST(item AS BIGINT) AS item, CAST(rank AS INT) AS rank,
           CAST(other AS BIGINT) AS other, n_both, cosine
         FROM r WHERE rank <= 3 ORDER BY item, rank""",
    // budget ∝ N_h·sigma_h; share rounded BEFORE the floor; flooring
    // shortfall redistributed largest-remainder so Σalloc = budget
    "tp13_neyman_allocation" ->
      """WITH g AS (SELECT source, count(*) AS n_rows,
             stddev_pop(n_chars) AS sd FROM documents GROUP BY 1),
         t AS (SELECT sum(n_rows * sd) AS tw FROM g),
         s AS (SELECT source, n_rows, sd,
             round(n_rows * sd / t.tw, 6) AS share FROM g, t),
         f AS (SELECT *, 1000.0 * share AS raw,
             CAST(floor(1000.0 * share) AS BIGINT) AS fl FROM s),
         r AS (SELECT *,
             row_number() OVER (ORDER BY raw - fl DESC, source) AS rn,
             1000 - sum(fl) OVER () AS short FROM f)
         SELECT source, n_rows, round(sd, 4) AS sigma, share,
           CAST(fl + CASE WHEN rn <= short THEN 1 ELSE 0 END AS BIGINT)
             AS alloc_n
         FROM r ORDER BY source""",
    // closed-form leave-one-group-out means from one grouped aggregate
    "tp14_loo_source_influence" ->
      """WITH g AS (SELECT source, count(*) AS n_rows, sum(n_chars) AS s
           FROM documents GROUP BY 1),
         t AS (SELECT sum(n_rows) AS nt, sum(s) AS st FROM g)
         SELECT source, n_rows,
           round(CAST(st - s AS DOUBLE) / (nt - n_rows), 4) AS mean_without,
           round(CAST(st - s AS DOUBLE) / (nt - n_rows)
             - CAST(st AS DOUBLE) / nt, 4) AS influence
         FROM g, t ORDER BY source""",
    // Cohen's kappa over the SAME heuristic CTE chain as t5
    "t27_langid_kappa" ->
      s"""WITH m AS (SELECT lang,
           len(list_filter($toks, x -> x IN ('the','and','of','is'))) AS s_en,
           len(list_filter($toks, x -> x IN ('der','und','die','ist'))) AS s_de,
           len(list_filter($toks, x -> x IN ('el','los','que','es'))) AS s_es,
           len(list_filter($toks, x -> x IN ('le','les','et','est'))) AS s_fr,
           len(list_filter($toks, x -> x IN ('de','shi','le','he'))) AS s_zh
           FROM documents),
         g AS (SELECT lang,
           CASE WHEN greatest(s_en,s_de,s_es,s_fr,s_zh) = 0 THEN 'und'
                WHEN s_zh = greatest(s_en,s_de,s_es,s_fr,s_zh) THEN 'zh'
                WHEN s_fr = greatest(s_en,s_de,s_es,s_fr,s_zh) THEN 'fr'
                WHEN s_es = greatest(s_en,s_de,s_es,s_fr,s_zh) THEN 'es'
                WHEN s_en = greatest(s_en,s_de,s_es,s_fr,s_zh) THEN 'en'
                ELSE 'de' END AS lang_guess FROM m),
         c AS (SELECT lang, lang_guess, count(*) AS cnt FROM g GROUP BY 1, 2),
         n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM c),
         a AS (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) AS agree
           FROM c WHERE lang = lang_guess),
         x AS (SELECT CAST(sum(mr.rn * mc.cn) AS BIGINT) AS crossn FROM
           (SELECT lang AS k, sum(cnt) AS rn FROM c GROUP BY 1) mr
           JOIN (SELECT lang_guess AS k, sum(cnt) AS cn FROM c GROUP BY 1) mc
             USING (k))
         SELECT n.n AS n_docs,
           round(agree / CAST(n.n AS DOUBLE), 6) AS p_observed,
           round(crossn / (CAST(n.n AS DOUBLE) * n.n), 6) AS p_expected,
           round((agree / CAST(n.n AS DOUBLE)
               - crossn / (CAST(n.n AS DOUBLE) * n.n))
             / (1.0 - crossn / (CAST(n.n AS DOUBLE) * n.n)), 6) AS kappa
         FROM n, a, x""",
    "g18_ktruss" -> ktrussSql(k = 4, rounds = 3)
  )

  /** g18's oracle: `rounds` unrolled 4-truss peeling rounds — per-edge
    * support via the naive common-neighbor adjacency join (fine at
    * fixture density; the engine's oriented wedges produce the same
    * counts hub-safely), keep support ≥ k−2, then one final support
    * pass for the census. MATERIALIZED for the same CTE-inlining
    * reason as [[kcoreSql]]. */
  private def ktrussSql(k: Int, rounds: Int): String = {
    def round(i: Int) =
      s"""adj$i AS MATERIALIZED (SELECT a AS u, b AS v FROM e$i
           UNION ALL SELECT b, a FROM e$i),
         s$i AS MATERIALIZED (SELECT e.a, e.b, count(*) AS sup FROM e$i e
           JOIN adj$i p ON p.u = e.a
           JOIN adj$i q ON q.u = e.b AND q.v = p.v
           GROUP BY 1, 2),
         e${i + 1} AS MATERIALIZED (SELECT a, b FROM s$i
           WHERE sup >= ${k - 2})"""
    val chain = (0 until rounds).map(round).mkString(",\n")
    s"""WITH e0 AS MATERIALIZED (
         SELECT DISTINCT least(o_custkey % 150, o_orderkey % 149) AS a,
           greatest(o_custkey % 150, o_orderkey % 149) AS b
         FROM orders WHERE o_custkey % 150 <> o_orderkey % 149),
       $chain,
       adjF AS MATERIALIZED (SELECT a AS u, b AS v FROM e$rounds
         UNION ALL SELECT b, a FROM e$rounds),
       sF AS (SELECT e.a, e.b, count(*) AS sup FROM e$rounds e
         JOIN adjF p ON p.u = e.a
         JOIN adjF q ON q.u = e.b AND q.v = p.v
         GROUP BY 1, 2)
       SELECT sup AS support, count(*) AS n_edges
       FROM sF GROUP BY 1 ORDER BY 1"""
  }
}
