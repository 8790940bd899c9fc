package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Engine entry points the benchmark drives that are package-private to
  * `graft`, so this accessor lives in a subpackage of it. */
object Engine {
  /** The x335 corpus-build chain exactly as the engine's board runs it, over
    * `dir/documents.parquet`. Its stage boundaries (gated, exact survivors,
    * closure survivors) are materialized when this is called. */
  def corpusBuild(spark: SparkSession, dir: String): DataFrame =
    graft.entry.BoardX300.queries("x335_corpus_build")(spark, dir)

  /** The chain's oracle SQL, replayed in DuckDB by the output check. */
  def corpusBuildOracle: String = graft.entry.EntryLib.corpusBuildOracle

  /** The engine's stage boundary: an eager local checkpoint, released by
    * `Dedup.releaseCaches`. */
  def materializedStage(df: DataFrame): DataFrame = graft.operators.Dedup.materializedStage(df)
}
