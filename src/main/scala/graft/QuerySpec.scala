package graft

import org.apache.spark.sql.{SparkSession, DataFrame}

import graft.sources.DocSynth

/** One driver query and its DuckDB oracle twin: `run` builds the engine's
  * result over a testdata directory, `oracleSql` re-derives the same rows
  * from the same parquet in DuckDB SQL. */
final case class QuerySpec(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracleSql: String)

object QuerySpec {

  /** `specs` as given; an IllegalArgumentException naming every name that
    * occurs more than once. */
  def unique(specs: Seq[QuerySpec]): Seq[QuerySpec] = {
    val dups = specs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    specs
  }

  /** The flat point frame of a testdata directory. */
  private[graft] def pts(s: SparkSession, dir: String): DataFrame = DocSynth.points(s, dir)
}
