package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: the Spark body, its DuckDB oracle twin and whether
  * Bench times it. The oracle is evaluated on first read, so building the
  * registry or reading its bodies runs no oracle SQL. */
final class Query(val name: String, val body: (SparkSession, String) => DataFrame,
    oracleSql: () => String, val timed: Boolean) {
  lazy val oracle: String = oracleSql()
}

object Query {
  def apply(name: String, body: (SparkSession, String) => DataFrame,
      oracle: => String, timed: Boolean = true): Query =
    new Query(name, body, () => oracle, timed)
}

/** The one query list and the views derived from it. Construction fails on
  * a duplicate name, which `toMap` would otherwise drop silently. */
final class Registry(val rows: Seq[Query]) {
  private val duplicates =
    rows.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }.toSeq.sorted
  require(duplicates.isEmpty,
    s"duplicate query names in the registry: ${duplicates.mkString(", ")}")

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    rows.map(q => q.name -> q.body).toMap

  lazy val oracleSql: Map[String, String] = rows.map(q => q.name -> q.oracle).toMap

  /** The rows a comma-separated name filter selects (every row when unset),
    * in `queries` iteration order. Throws on a name that is not registered,
    * so a typo cannot select nothing and still report success. */
  def select(only: Option[String]): Seq[Query] = {
    val wanted = only.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val unknown = wanted.fold(Seq.empty[String])(_.diff(queries.keySet).toSeq.sorted)
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(
        s"unknown query name(s): ${unknown.mkString(", ")}")
    val byName = rows.map(q => q.name -> q).toMap
    queries.keys.toSeq.filter(n => wanted.forall(_(n))).map(byName)
  }
}
