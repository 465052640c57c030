package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.functions.array_to_vector

/** MLlib adapter for the reference's softmax learner (SURVEY §2.11).
  * Embedding columns (Array[Float]) are converted with array_to_vector —
  * a zero-copy expression, no UDF.
  *
  * Results are iterative-algorithm outputs, so their checks are rows-only
  * (no SQL oracle), as allowed by the contract. */
object MLlibLearners {

  private def withFeatures(df: DataFrame, arrayCol: String): DataFrame =
    df.withColumn("features",
      array_to_vector(col(arrayCol).cast("array<double>")))

  /** Softmax regression (Orange/classification/softmax_regression.py:
    * multinomial logistic with L2 penalty, L-BFGS) — MLlib
    * LogisticRegression with the multinomial family pinned. Returns
    * per-class prediction counts. */
  def softmaxOnEmbeddings(df: DataFrame, arrayCol: String,
                          labelCol: String, lambda: Double = 1.0): DataFrame = {
    val data = withFeatures(df, arrayCol)
      .withColumn("label", col(labelCol).cast("double"))
    val model = new LogisticRegression()
      .setFamily("multinomial").setElasticNetParam(0.0)
      .setRegParam(lambda / data.count().toDouble)
      .setMaxIter(100).setTol(1e-6)
      .fit(data)
    model.transform(data)
      .groupBy(col("label"), col("prediction"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("label"), col("prediction"))
  }
}
