package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries are assembled from per-domain modules; every operator family in
  * SURVEY.md §2 (plus the beyond-reference training-data operators) has a
  * named entry here, with DuckDB oracle SQL wherever the semantics are
  * ANSI-SQL-expressible.
  */
object SparkEntry {

  private def modules: Seq[QueryDef] =
    graft.queries.StarQueries.all ++
      graft.queries.TextQueries.all ++
      graft.queries.SimilarityQueries.all ++
      graft.queries.OperatorQueries.all ++
      graft.queries.EventQueries.all ++
      graft.queries.MediaQueries.all ++
      graft.queries.CurationQueries.all ++
      graft.queries.QualityQueries.all ++
      graft.queries.VersioningQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("agg_ratio_kernel")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = oracleSqlFor(None)

  /** [[oracleSql]] with the sf-dir threaded to dir-dependent oracles
    * (the pinned-model IVF family): with several dirs pinned in one JVM
    * the matching model is selected; without a dir the ambiguity
    * degrades those entries to rows-only. */
  def oracleSqlFor(dir: Option[String]): Map[String, String] =
    modules.flatMap(q => q.oracleFor(dir).map(q.name -> _)).toMap

  /** [[oracleSql]] (optionally restricted to `names`) as one JSON object
    * string for the driver's json.load: Verify's `oracle_sql.json`, whole
    * or, under `SPARK_GRAFT_ONLY`, for the named queries only. Escapes
    * backslash, quote, and ALL control chars (<0x20): a tab or CR in
    * builder-authored SQL would otherwise make json.load fail and
    * silently zero the round's correctness. */
  def oracleJson(names: Option[Set[String]] = None,
      dir: Option[String] = None): String = {
    val all = oracleSqlFor(dir)
    val m = names.fold(all)(ns => all.filter(kv => ns(kv._1)))
    m.map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
  }

  /** A JSON string literal: escapes backslash, quote and every control
    * character. Used by the oracle JSON and every harness JSON line
    * (`Harness.jsonLine`). */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
