package graft

import org.apache.spark.sql.DataFrame

/** Package-private pipeline stages the benchmark times on their own in
  * traced runs, called exactly as `Pipeline.curate` calls them. */
object PerfbenchAccess {
  /** Stage 3's capped simhash pair generator (`NearDup.simHashPairsCapped`
    * with the pipeline's knobs). */
  def nearDupPairs(fps: DataFrame): DataFrame = Pipeline.nearDupPairsFromFps(fps)
}
