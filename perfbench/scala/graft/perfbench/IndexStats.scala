package graft.perfbench

import graft.operators.StandingIndex
import org.apache.spark.sql.SparkSession

/** The benchmark's read-only view of a standing index directory, through
  * the program's own [[StandingIndex]] walk (package-private to `graft`). */
object IndexStats {
  /** (data bytes, data files, parquet rows) of one index directory. */
  def of(spark: SparkSession, dir: String): (Long, Int, Long) = {
    val (bytes, rows) = StandingIndex.dirStats(spark, dir)
    (bytes, StandingIndex.listDataFiles(spark, dir).size, rows)
  }
}
