package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** How a query's result is certified. */
sealed trait Oracle

/** A DuckDB query over the same parquet tables whose rows must equal the
  * query's (`tools/compare_oracle.py`).
  */
final case class Sql(text: String) extends Oracle

/** Gated without a SQL replay: Verify still dumps the rows. `reason` says
  * why no SQL can replay the query and what certifies it instead.
  */
final case class NoOracle(reason: String) extends Oracle

/** Not gated: a production-parameter twin that only Bench runs. */
final case class BenchOnly(reason: String) extends Oracle

/** One query of the suite: its name, its plan over a data directory, how
  * its result is certified and, when its definition changed in a past
  * round, why bench deltas across that change do not compare (emitted by
  * Bench as `"discontinuities"`).
  */
final case class QueryDef(name: String,
                          build: (SparkSession, String) => DataFrame,
                          oracle: Oracle,
                          discontinuity: Option[String] = None)

object QueryDef {

  /** The definitions by name; a name defined twice is an error. */
  def index(defs: Seq[QueryDef]): Map[String, QueryDef] = {
    val twice = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(twice.isEmpty,
      s"query defined more than once: ${twice.toSeq.sorted.mkString(", ")}")
    defs.map(q => q.name -> q).toMap
  }
}
