package graft.ml

import graft.SparkTestBase
import org.apache.spark.sql.Row

/** The FMRegressor regrain in [[PricePipeline.metricsTable]] fires only
  * when the shared feature frame's grain is below the session's cores.
  * Both sides of that condition must give the same `ml_price_metrics`
  * verdicts: gradient accumulation order shifts with partitioning, the
  * verdict booleans must not.
  */
class PricePipelineRegrainSpec extends SparkTestBase {

  test("FMRegressor verdicts are identical on the shared grain and the regrained frame") {
    val par = spark.sparkContext.defaultParallelism
    val data = PricePipeline.featurizedCached(t)
    try {
      val Array(train, test) = data.randomSplit(Array(0.8, 0.2), seed = 42)
      assert(train.rdd.getNumPartitions < par,
        "fixture expectation: sf0.001's feature grain is below the session's cores")
      val fm = PricePipeline.regressors.toMap.apply("FMRegressor")
      def verdicts(fitTrain: org.apache.spark.sql.DataFrame) =
        PricePipeline.metricsVerdicts(Array(Row.fromTuple(
          PricePipeline.fitEval("FMRegressor", fm, fitTrain, test))))
      val regrained = train.repartition(par).persist()
      try {
        val shared = verdicts(train)
        assert(shared == ((true, true, true)), s"verdicts on the shared grain: $shared")
        assert(verdicts(regrained) == shared)
      } finally { regrained.unpersist(); () }
    } finally { data.unpersist(); () }
  }
}
