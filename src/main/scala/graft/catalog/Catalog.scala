package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One operator query of the driver contract: its Spark body over the
  * fixture tables of a scale-factor directory and, where the operator is
  * SQL-expressible, the DuckDB SQL that must return the same rows (None =
  * rows-only). Column names and value rounding are kept IDENTICAL between
  * the two, so the driver's sorted-column hash compare is stable. */
final case class Query(name: String, run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** The query surface (SURVEY.md §7 + TESTDATA.md): one entry per
  * implemented operator from SURVEY.md §2 plus the training-data-pipeline
  * surface (dedup / similarity / text analysis), split by domain. */
object Catalog {
  val all: Seq[Query] = RelationalQueries.all ++ EventQueries.all ++
    TextQueries.all ++ DedupQueries.all ++ SimilarityQueries.all ++
    PipelineQueries.all
  require(all.map(_.name).distinct.size == all.size,
    s"duplicate query names: ${all.groupBy(_.name).filter(_._2.size > 1).keys}")
}

/** A domain's list of queries, with the helpers every domain uses. */
private[catalog] abstract class Queries {
  def all: Seq[Query]

  protected def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** A query; its oracle, if it has one, follows the body. */
  protected def query(name: String, run: (SparkSession, String) => DataFrame,
      oracle: String = null): Query =
    Query(name, run, Option(oracle))
}
