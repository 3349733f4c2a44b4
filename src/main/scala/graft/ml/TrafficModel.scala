package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.regression.{DecisionTreeRegressor, GBTRegressor, RandomForestRegressor}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MLlib rendering of the notebook's model zoo (SURVEY §2 M1–M7).
  *
  *  - M1 feature assembly: the 8-column matrix of cell 6 (json:82),
  *    order preserved (positional `np.array(df)`).
  *  - M2 RandomForest (flagship; sklearn defaults are 100 unbounded
  *    trees — MLlib defaults 20×depth-5 underfit badly, so we set
  *    numTrees=100, maxDepth=15 to clear the BASELINE gate).
  *  - M3 SVR(rbf): no kernel SVR in MLlib. Two renderings: GBTRegressor
  *    as the third tree family, and ml/KernelRidge — the same RBF
  *    function class via random Fourier features + exact ridge solve,
  *    which matches the reference SVR's own MAE/R (MLQualitySpec).
  *    Only the ε-insensitive loss itself remains unexpressed.
  *  - M4 DecisionTree with the notebook's max_depth=13.
  *  - M5 MAE via RegressionEvaluator, M6 Pearson via stat.corr,
  *    M7 featureImportances.
  *  - K4/S7 persistence: PipelineModel.save/load replaces pickle
  *    (cell 16 json:253; dags/utils.py:230-234).
  */
object TrafficModel {

  /** Cell 6 (json:82) feature order. */
  val FeatureCols: Seq[String] = Seq(
    "Month", "Day", "Hour", "DayofWeek", "isHoliday",
    "Wind Speed", "Temperature", "Precipitation")

  val LabelCol = "Count"

  /** M1: cast bools to double (VectorAssembler needs numerics — the
    * notebook's np.array upcasts the same way) and assemble.
    */
  def assembler: VectorAssembler = new VectorAssembler()
    .setInputCols(FeatureCols.map(c => s"${c}_d").toArray)
    .setOutputCol("features")
    // malformed upstream records (missing nested JSON fields) score as
    // absent instead of failing the batch — the reference would
    // KeyError and lean on Airflow retries (dags/DAG.py:19-20)
    .setHandleInvalid("skip")

  private def withNumericFeatures(df: DataFrame): DataFrame =
    FeatureCols.foldLeft(df)((acc, c) =>
      acc.withColumn(s"${c}_d", col(c).cast("double")))

  def prepare(df: DataFrame): DataFrame = withNumericFeatures(df)

  def randomForest(numTrees: Int = 100, maxDepth: Int = 15): Pipeline =
    new Pipeline().setStages(Array(
      assembler,
      new RandomForestRegressor()
        .setFeaturesCol("features").setLabelCol(LabelCol)
        .setNumTrees(numTrees).setMaxDepth(maxDepth).setSeed(42)))

  def decisionTree(maxDepth: Int = 13): Pipeline =
    new Pipeline().setStages(Array(
      assembler,
      new DecisionTreeRegressor()
        .setFeaturesCol("features").setLabelCol(LabelCol)
        .setMaxDepth(maxDepth).setSeed(42)))

  /** M3 tree-family stand-in; see also ml/KernelRidge for the
    * RBF-function-class rendering.
    */
  def gbt(maxIter: Int = 50): Pipeline =
    new Pipeline().setStages(Array(
      assembler,
      new GBTRegressor()
        .setFeaturesCol("features").setLabelCol(LabelCol)
        .setMaxIter(maxIter).setSeed(42)))

  def fit(pipeline: Pipeline, train: DataFrame): PipelineModel =
    pipeline.fit(prepare(train))

  def predict(model: PipelineModel, df: DataFrame): DataFrame =
    model.transform(prepare(df))

  /** M5: mean absolute error on a scored frame. */
  def mae(scored: DataFrame): Double =
    new RegressionEvaluator()
      .setLabelCol(LabelCol).setPredictionCol("prediction")
      .setMetricName("mae")
      .evaluate(scored)

  /** M6: Pearson correlation label↔prediction. */
  def pearson(scored: DataFrame): Double =
    scored.stat.corr(LabelCol, "prediction")

  /** M7: per-feature importances, name → weight. */
  def featureImportances(model: PipelineModel): Map[String, Double] = {
    val imp = model.stages.last
      .asInstanceOf[org.apache.spark.ml.regression.RandomForestRegressionModel]
      .featureImportances.toArray
    FeatureCols.zip(imp).toMap
  }

  def save(model: PipelineModel, path: String): Unit =
    model.write.overwrite().save(path)

  private val loaded =
    scala.collection.concurrent.TrieMap.empty[String, (Seq[String], PipelineModel)]

  /** K4/S7: the saved model at `path`, loaded once and reused. The
    * serving DAG scores with the same saved model every cycle, and a
    * `PipelineModel.load` costs about nine Spark jobs (metadata per
    * stage, the forest's node table). The entry is keyed on a
    * driver-side fingerprint of the saved files (relative names,
    * lengths, modification times; one listing per directory, no Spark
    * job), so a model re-saved at the same path is loaded again. One
    * entry per path.
    */
  def load(path: String): PipelineModel = {
    val (key, fp) = savedFiles(path)
    loaded.get(key) match {
      case Some((`fp`, model)) => model
      case _ =>
        val model = PipelineModel.load(path)
        loaded.put(key, (fp, model))
        model
    }
  }

  /** (qualified path, sorted "name:length:mtime" of every file under
    * it). Plain `listStatus` calls: `listFiles` would build located
    * statuses, which on the local file system load each file's
    * permissions with a shell call.
    */
  private def savedFiles(path: String): (String, Seq[String]) = {
    import org.apache.hadoop.fs.Path
    val conf = org.apache.spark.sql.SparkSession.active
      .sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val key = fs.makeQualified(root).toString
    def walk(dir: Path): Seq[String] = fs.listStatus(dir).toSeq.flatMap { f =>
      if (f.isDirectory) walk(f.getPath)
      else Seq(s"${f.getPath.toString.stripPrefix(key)}:${f.getLen}:${f.getModificationTime}")
    }
    (key, walk(root).sorted)
  }

  /** Hyperparameter search: k-fold cross-validated depth selection
    * for the decision tree — the distributed rendering of the
    * notebook's manual "try a few models, keep the best" loop
    * (Traffic-Prediction-Modelling.ipynb cells 10–15). Each
    * (fold × depth) fit is an independent Spark job, so the search
    * parallelizes across the grid on a cluster (`setParallelism`);
    * the winner is refit on the full training set. Returns the best
    * model and (depth → mean CV MAE).
    */
  def tuneTreeDepth(
      train: DataFrame,
      depths: Seq[Int],
      nFolds: Int = 3): (PipelineModel, Map[Int, Double]) = {
    import org.apache.spark.ml.tuning.{CrossValidator, ParamGridBuilder}
    val dt = new DecisionTreeRegressor()
      .setFeaturesCol("features").setLabelCol(LabelCol).setSeed(42)
    val pipe = new Pipeline().setStages(Array(assembler, dt))
    val grid = new ParamGridBuilder()
      .addGrid(dt.maxDepth, depths).build()
    val cv = new CrossValidator()
      .setEstimator(pipe)
      .setEstimatorParamMaps(grid)
      .setEvaluator(new RegressionEvaluator()
        .setLabelCol(LabelCol).setPredictionCol("prediction")
        .setMetricName("mae"))
      .setNumFolds(nFolds).setParallelism(4).setSeed(42)
    val m = cv.fit(prepare(train))
    val byDepth = grid.map(_.apply(dt.maxDepth)).zip(m.avgMetrics).toMap
    (m.bestModel.asInstanceOf[PipelineModel], byDepth)
  }
}
