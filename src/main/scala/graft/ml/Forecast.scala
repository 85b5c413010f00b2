package graft.ml

import graft.{Materialize, Tables}
import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.feature.{OneHotEncoder, StringIndexer, VectorAssembler}
import org.apache.spark.ml.regression.{GBTRegressor, LinearRegression}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MLlib pipelines — the "prediction" the reference promises but never ships
  * (`/root/reference/readme.md:134-137`: fact tables "power simple
  * forecasting"; SURVEY.md §7 Phase 5).
  *
  * Two estimators over the fixture analogs:
  *  - fare regression: revenue ~ price/discount features via
  *    `VectorAssembler` + `LinearRegression` (the trips fare-model shape);
  *  - demand forecast: events-per-(hour-of-day, weekday, type) via
  *    `StringIndexer`→`OneHotEncoder`→`GBTRegressor` (the demand-per-zone-hour
  *    model `readme.md:136` implies).
  *
  * Fixed seeds everywhere; queries return one metrics row (rows-only check —
  * training is not SQL-expressible). Correctness is asserted as metric bounds
  * in ScalaTest, not oracle hashes (SURVEY.md §5).
  */
object Forecast {

  /** Linear fare model; returns one row of split sizes + RMSE/R².
    *
    * The fixture columns are mutually independent (verified: all pairwise
    * correlations ≈ 0), so the label is the reference's revenue formula
    * `extendedprice * (1 - discount)` — a real relationship the pipeline must
    * recover (R² ≈ 1 asserted in tests) rather than noise it can't. */
  def fareRegression(s: SparkSession, dir: String): DataFrame = Materialize.scoped { held =>
    import s.implicits._
    // Hold the feature projection: the fit, the test-metric pass, and the
    // split counts all re-derive from it — uncached, each action re-ran the
    // parquet scan + projection + per-partition sampling (guide §5: reused
    // AND more expensive to recompute than to hold; ~4 narrow doubles/row).
    // Caching never changes values: same data, same partitioning, so the
    // seed-42 split is bit-identical.
    val data = held(Tables.lineitem(s, dir)
      .select($"l_extendedprice", $"l_discount",
        ($"l_extendedprice" * $"l_discount").as("price_disc"),
        ($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("label")))
    val Array(train, test) = data.randomSplit(Array(0.8, 0.2), seed = 42)

    val pipeline = new Pipeline().setStages(Array(
      new VectorAssembler()
        .setInputCols(Array("l_extendedprice", "l_discount", "price_disc"))
        .setOutputCol("features"),
      new LinearRegression()
        .setRegParam(0.01).setSolver("normal")))
    val model = pipeline.fit(train)

    // ONE aggregate pass over the scored test split replaces the former
    // FOUR actions (two RegressionEvaluator.evaluate each re-running the
    // transform, plus train.count/test.count re-running the sampling):
    // rmse = sqrt(SSE/n), r² = 1 − SSE/SST with SST = Σy² − n·ȳ² — the
    // same definitions RegressionEvaluator computes; only float summation
    // order differs, and the consumers (gate flags, spec bounds) are
    // tolerance checks, not exact hashes of these metrics.
    val m = model.transform(test)
      .agg(count(lit(1)), sum(($"label" - $"prediction") * ($"label" - $"prediction")),
        sum($"label"), sum($"label" * $"label"))
      .first()
    val (nTest, sse, sy, syy) =
      (m.getLong(0), m.getDouble(1), m.getDouble(2), m.getDouble(3))
    val nTrain = data.count() - nTest
    val rmse = math.sqrt(sse / nTest)
    val r2 = 1.0 - sse / (syy - sy * sy / nTest)
    Seq((nTrain, nTest, rmse, r2))
      .toDF("n_train", "n_test", "rmse", "r2")
  }

  /** GBT demand forecast on hourly event counts; returns one metrics row. */
  def demandForecast(s: SparkSession, dir: String): DataFrame = Materialize.scoped { held =>
    import s.implicits._
    // Hold the tiny hourly aggregate (a few hundred to a few thousand
    // rows): uncached, the GBT fit, both evaluator passes, and both split
    // counts each re-ran the full events scan + hash aggregate (guide §5).
    // Caching changes no values — same rows, same partitioning, identical
    // seed-42 split.
    // coalesce(1) before the cache: the hourly aggregate is O(hours ×
    // event types) rows — thousands at any fixture scale, bounded by the
    // time range, not the fact volume — yet uncoalesced it cached as 32
    // shuffle partitions and every one of the GBT fit's ~50 tiny jobs
    // launched 32+ tasks over it (pure scheduling overhead, guide §2.6).
    // The narrow coalesce keeps the events scan + partial agg parallel;
    // only the final (tiny) agg output lands in one partition.
    val hourly = held(Tables.events(s, dir)
      .groupBy(date_trunc("hour", $"ts").as("hour_ts"), $"event_type")
      .agg(count(lit(1)).cast("double").as("label"))
      .select($"label", $"event_type",
        hour($"hour_ts").cast("double").as("hod"),
        dayofweek($"hour_ts").cast("double").as("dow"))
      .coalesce(1))
    val Array(train, test) = hourly.randomSplit(Array(0.8, 0.2), seed = 42)

    val pipeline = new Pipeline().setStages(Array(
      new StringIndexer().setInputCol("event_type").setOutputCol("type_ix")
        .setStringOrderType("alphabetAsc"),
      new OneHotEncoder().setInputCol("type_ix").setOutputCol("type_oh"),
      new VectorAssembler()
        .setInputCols(Array("hod", "dow", "type_oh")).setOutputCol("features"),
      new GBTRegressor().setMaxIter(10).setMaxDepth(4).setSeed(42)))
    val model = pipeline.fit(train)

    // ONE aggregate pass over the scored test split replaces the two
    // evaluator passes + two counts (same rationale as fareRegression;
    // consumers check bounds, not exact metric bits).
    val m = model.transform(test)
      .agg(count(lit(1)), sum(($"label" - $"prediction") * ($"label" - $"prediction")),
        sum(abs($"label" - $"prediction")))
      .first()
    val (nTest, sse, sae) = (m.getLong(0), m.getDouble(1), m.getDouble(2))
    val nTrain = hourly.count() - nTest
    val rmse = math.sqrt(sse / nTest)
    val mae = sae / nTest
    Seq((nTrain, nTest, rmse, mae))
      .toDF("n_train", "n_test", "rmse", "mae")
  }

  /** CrossValidator over the demand LR: 2×2 hyperparameter grid, 3 folds,
    * fixed seed — model selection machinery on the small hourly aggregate
    * (SURVEY.md §7 Phase 5). Returns the winning params + metric. */
  def demandCrossVal(s: SparkSession, dir: String): DataFrame = Materialize.scoped { held =>
    import org.apache.spark.ml.tuning.{CrossValidator, ParamGridBuilder}
    import s.implicits._
    // Hold the tiny hourly aggregate: CrossValidator's 3 folds × 4 grid
    // points each re-evaluated the events scan + aggregate through the
    // fold splits — one cache turns ~12 rescans into one (guide §5).
    // coalesce(1) for the same reason as demandForecast: the 3 folds × 4
    // grid points ran ~80 jobs of 32-38 tasks each over a cached aggregate
    // of a few thousand rows — the 32-partition cached layout was the
    // whole regression this cache caused in round 17 (job scheduling ×
    // task launch overhead, guide §2.6). One cached partition makes each
    // fold fit a single-task job. Metric flags are bound checks, so the
    // (deterministic) split realignment cannot flip the hashed output.
    val hourly = held(Tables.events(s, dir)
      .groupBy(date_trunc("hour", $"ts").as("hour_ts"), $"event_type")
      .agg(count(lit(1)).cast("double").as("label"))
      .select($"label", $"event_type",
        hour($"hour_ts").cast("double").as("hod"),
        dayofweek($"hour_ts").cast("double").as("dow"))
      .coalesce(1))

    val lr = new LinearRegression().setSolver("normal")
    val pipeline = new Pipeline().setStages(Array(
      new StringIndexer().setInputCol("event_type").setOutputCol("type_ix")
        .setStringOrderType("alphabetAsc"),
      new OneHotEncoder().setInputCol("type_ix").setOutputCol("type_oh"),
      new VectorAssembler()
        .setInputCols(Array("hod", "dow", "type_oh")).setOutputCol("features"),
      lr))
    val grid = new ParamGridBuilder()
      .addGrid(lr.regParam, Array(0.01, 1.0))
      .addGrid(lr.elasticNetParam, Array(0.0, 0.5))
      .build()
    val cv = new CrossValidator()
      .setEstimator(pipeline)
      .setEvaluator(new RegressionEvaluator().setMetricName("rmse"))
      .setEstimatorParamMaps(grid)
      .setNumFolds(3).setSeed(42)
      // fit the 4 grid points concurrently per fold — the fits are tiny
      // normal-equation solves; serially they just serialize job scheduling
      .setParallelism(4)
    val model = cv.fit(hourly)
    val best = model.bestModel.asInstanceOf[org.apache.spark.ml.PipelineModel]
      .stages.last.asInstanceOf[org.apache.spark.ml.regression.LinearRegressionModel]
    Seq((best.getRegParam, best.getElasticNetParam, model.avgMetrics.min))
      .toDF("best_reg_param", "best_elastic_net", "cv_rmse")
  }

  /** Categorical encoding via `StringIndexer` (frequencyDesc, alphabetical
    * tie-break) — surfaced as (value, index, count) so the fitted vocabulary
    * IS the query result. Unlike model training, the indexer's contract is
    * fully SQL-expressible (rank by count desc, value asc), so this MLlib
    * stage gets a real oracle. The one-hot step is determined by the index
    * and needs no separate check. Fit = one hash-agg over the column;
    * transform = broadcast-map lookup — both scale-flat. */
  def featureEncode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val orders = Tables.orders(s, dir)
    val idx = new StringIndexer().setInputCol("o_orderpriority")
      .setOutputCol("pidx").setStringOrderType("frequencyDesc").fit(orders)
    idx.transform(orders)
      .groupBy($"o_orderpriority", $"pidx".cast("int").as("idx"))
      .agg(count(lit(1)).as("n"))
  }

  /** Per-group feature scaling — z-score and min-max, the StandardScaler /
    * MinMaxScaler semantics expressed relationally so they get a real SQL
    * oracle (MLlib's vector-typed scalers compute the same statistics).
    *
    * Determinism: the group mean is an exact DECIMAL sum divided once in
    * double; the variance uses the exact-decimal sum of DECIMAL(18,2)²
    * products — the 2dp cast is exact on the money fixtures and the decimal
    * multiply/sum are exact in both engines (casting the DOUBLE product to
    * decimal instead would hit the half-up vs half-even rounding split).
    * Every downstream op (sqrt, subtract, divide) is a deterministic IEEE
    * double op, so outputs need NO rounding. Plan: one hash agg for the
    * 3-row stats table, broadcast back over the fact scan. */
  def featureScale(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.DecimalType
    val x = $"l_extendedprice"
    val stats = Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum(x.cast(DecimalType(18, 2))).cast("double").as("sum_x"),
        sum(x.cast(DecimalType(18, 2)) * x.cast(DecimalType(18, 2)))
          .cast("double").as("sum_xx"),
        min(x).as("min_x"), max(x).as("max_x"))
      .select($"l_returnflag", $"min_x", $"max_x",
        ($"sum_x" / $"n").as("mean_x"),
        sqrt(($"sum_xx" - $"sum_x" * $"sum_x" / $"n") / ($"n" - 1)).as("sd_x"))
    // round(…, 6): the sum-of-squares exceeds 2^53 scaled units, so the
    // exact DECIMAL→DOUBLE conversion can land one ulp apart across engines
    // (observed at sf0.001; sf0.01 passed by rounding luck) — the repo's
    // standard 6-dp absorption makes the hash SF-independent
    Tables.lineitem(s, dir)
      .join(broadcast(stats), "l_returnflag")
      .select($"l_orderkey", $"l_linenumber", $"l_returnflag",
        round((x - $"mean_x") / $"sd_x", 6).as("z_score"),
        round((x - $"min_x") / ($"max_x" - $"min_x"), 6).as("minmax"))
  }

  private val featureScaleSql =
    """WITH stats AS (
      |  SELECT l_returnflag, count(*) AS n,
      |         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_x,
      |         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_xx,
      |         min(l_extendedprice) AS min_x, max(l_extendedprice) AS max_x
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
      |       round((l.l_extendedprice - sum_x / n)
      |             / sqrt((sum_xx - sum_x * sum_x / n) / (n - 1)), 6) AS z_score,
      |       round((l.l_extendedprice - min_x) / (max_x - min_x), 6) AS minmax
      |FROM lineitem l JOIN stats s ON l.l_returnflag = s.l_returnflag""".stripMargin

  /** Round-16 driver-gate graduation of the MLlib fits (verdict item 2):
    * training itself stays non-SQL-expressible, but each fit's RESULT is
    * gated with the bound-invariant oracle pattern — an exact anchor DuckDB
    * recomputes for real (the input row count: the fit saw exactly the
    * corpus) plus TRUE flags for the metric bounds the specs already
    * assert. Fixed seeds make every flag hash-stable; a regression in split
    * balance, fit quality, or metric sanity flips a flag FALSE and breaks
    * the driver's hash compare. */
  def fareGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    fareRegression(s, dir).select(
      ($"n_train" + $"n_test").as("n_total"),
      (abs($"n_train".cast("double") / ($"n_train" + $"n_test") - 0.8) <= 0.02)
        .as("split_ok"),
      // NaN guard is load-bearing: Spark orders NaN GREATER than any
      // double, so a degenerate fit's NaN R² would pass >= 0.999 alone
      ($"r2" >= 0.999 && !isnan($"r2")).as("r2_ok"),
      ($"rmse" >= 0.0 && !isnan($"rmse")).as("rmse_ok"))
  }

  def demandGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    demandForecast(s, dir).select(
      ($"n_train" + $"n_test").as("n_hours"),
      // ±0.06, not fareGate's ±0.02: the hourly aggregate is only a few
      // hundred to a few thousand groups, so the realized seed-42 split
      // fraction carries binomial spread ~sqrt(0.16/n) — the wide band
      // keeps the flag SF-stable while still catching a mis-weighted
      // splitter (which lands whole tenths away)
      (abs($"n_train".cast("double") / ($"n_train" + $"n_test") - 0.8) <= 0.06)
        .as("split_ok"),
      ($"rmse" > 0.0 && $"rmse" < 10.0).as("rmse_ok"),
      // MAE ≤ RMSE is a mathematical invariant of the two metrics over the
      // SAME predictions — a real consistency check, not a tautology
      ($"mae" <= $"rmse" + 1e-9).as("mae_le_rmse"))
  }

  def cvGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nHours = Tables.events(s, dir)
      .groupBy(date_trunc("hour", $"ts"), $"event_type")
      .agg(count(lit(1)))
      .agg(count(lit(1)).as("n_hours"))
    demandCrossVal(s, dir).crossJoin(nHours).select(
      $"n_hours",
      $"best_reg_param".isin(0.01, 1.0).as("reg_in_grid"),
      $"best_elastic_net".isin(0.0, 0.5).as("en_in_grid"),
      ($"cv_rmse" > 0.0 && $"cv_rmse" < 10.0).as("cv_rmse_ok"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_feature_scale" -> ((s, d) => featureScale(s, d)),
    "q_ml_fare_lr" -> ((s, d) => fareGate(s, d)),
    "q_ml_demand_gbt" -> ((s, d) => demandGate(s, d)),
    "q_ml_cv" -> ((s, d) => cvGate(s, d)),
    "q_feature_encode" -> ((s, d) => featureEncode(s, d)),
  )

  /** Model training is not SQL-expressible; the gates anchor each fit's
    * input cardinality (recomputed by DuckDB) and assert its metric bounds
    * as hash-checked TRUE flags. The StringIndexer vocabulary is fully
    * SQL-expressible and keeps its exact oracle. */
  val oracle: Map[String, String] = Map(
    "q_ml_fare_lr" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_total, TRUE AS split_ok,
        |       TRUE AS r2_ok, TRUE AS rmse_ok
        |FROM lineitem""".stripMargin,
    "q_ml_demand_gbt" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_hours, TRUE AS split_ok,
        |       TRUE AS rmse_ok, TRUE AS mae_le_rmse
        |FROM (SELECT date_trunc('hour', ts), event_type
        |      FROM events GROUP BY 1, 2)""".stripMargin,
    "q_ml_cv" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_hours, TRUE AS reg_in_grid,
        |       TRUE AS en_in_grid, TRUE AS cv_rmse_ok
        |FROM (SELECT date_trunc('hour', ts), event_type
        |      FROM events GROUP BY 1, 2)""".stripMargin,
    "q_feature_scale" -> featureScaleSql,
    "q_feature_encode" ->
      """SELECT o_orderpriority,
        |       CAST(ROW_NUMBER() OVER (ORDER BY count(*) DESC, o_orderpriority) - 1 AS INTEGER) AS idx,
        |       count(*) AS n
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
  )
}
