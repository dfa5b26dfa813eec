package org.apache.spark.ml.clustering

import org.apache.spark.mllib.clustering.{KMeansModel => MLlibKMeansModel}
import org.apache.spark.mllib.linalg.Vectors

/** A cosine k-means model with given centres, shaped like the ones
  * `graft.operators.IvfIndex.fitModel` returns, so that a persisted
  * centroid dictionary can be used with `IvfIndex.assign` without a
  * refit (Spark keeps the model constructor package-private). */
object BenchKMeans {
  def fromCentres(centres: Array[Array[Double]]): KMeansModel =
    new KMeansModel(s"bench-kmeans-${centres.length}",
      new MLlibKMeansModel(centres.map(c => Vectors.dense(c)), "cosine", 0.0, 0))
      .setFeaturesCol("features").setPredictionCol("centroid_id")
}
