package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A query registry module: named queries plus the DuckDB oracle twin of
  * each hash-checked one (rows-only queries have no twin). Every module is
  * listed once in [[SparkEntry.modules]].
  */
trait QueryModule {
  def all: Map[String, (SparkSession, String) => DataFrame]
  def oracle: Map[String, String]

  /** `graft.warehouse.SkewAdvisor$` → `SkewAdvisor`: the owner named in
    * duplicate-name errors and in the README catalog.
    */
  final def moduleName: String = getClass.getSimpleName.stripSuffix("$")
}
