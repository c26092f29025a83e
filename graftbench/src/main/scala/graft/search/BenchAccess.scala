package graft.search

import org.apache.spark.sql.DataFrame

/** The benchmark's handle on the package-private steps of the search path it
  * times on its own: the HTTP query-string decoding and the Feature-document
  * projection `StacApi` sorts and pages.
  */
object BenchAccess {
  def featureFrame(filtered: DataFrame): DataFrame = StacSearch.featureFrameOn(filtered)

  def paramsFromQuery(q: Map[String, String]): SearchParams = StacHttp.paramsFromQuery(q)
}
