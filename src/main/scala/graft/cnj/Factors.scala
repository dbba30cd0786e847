package graft.cnj

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The static per-branch factor table of the reference (Versao_Np.py:
  * 41-61): one literal map per factor key, from branch to factor.
  *
  * Lookup semantics (Versao_Np.py:10-30,122):
  *  1. branch remap: 'Tribunais Superiores' -> TST/STJ-specific branch by
  *     sigla; 'Justiça Eleitoral' -> 'Tribunal Superior Eleitoral';
  *  2. unmapped branch -> fall back to the whole 'Justiça Estadual' row;
  *  3. per-key fallback: a branch missing a factor key borrows the
  *     'Justiça Estadual' value for that key ('NA' if JE lacks it too).
  * Steps 2-3 are one coalesce(branch_factor, je_factor) over the map
  * lookup, as the reference does two dict lookups.
  */
object Factors {

  /** Factor keys of the 13 standard metas, in config order. */
  val standardKeys: Seq[String] =
    Seq("2a", "2b", "2c", "2ant", "4a", "4b", "6", "7a", "7b", "8a", "8b", "10a", "10b")

  /** STJ-only whole-meta keys (Versao_Np.py:59). */
  val stjKeys: Seq[String] = Seq("8", "10")

  val allKeys: Seq[String] = standardKeys ++ stjKeys

  private val je: Map[String, Double] = Map(
    "2a" -> 1000.0 / 8, "2b" -> 1000.0 / 9, "2c" -> 1000.0 / 9.5, "2ant" -> 100.0,
    "4a" -> 1000.0 / 6.5, "4b" -> 100.0, "6" -> 100.0,
    "7a" -> 1000.0 / 5, "7b" -> 1000.0 / 5, "8a" -> 1000.0 / 7.5, "8b" -> 1000.0 / 9,
    "10a" -> 1000.0 / 9, "10b" -> 1000.0 / 10)

  /** Versao_Np.py:41-61 verbatim values (1000/x kept as expressions so the
    * doubles match the reference bit-for-bit). */
  val byBranch: Map[String, Map[String, Double]] = Map(
    "Justiça Estadual" -> je,
    "Justiça do Trabalho" -> Map(
      "2a" -> 1000.0 / 9.4, "2ant" -> 100.0, "4a" -> 1000.0 / 7, "4b" -> 100.0),
    "Justiça Federal" -> Map(
      "2a" -> 1000.0 / 8.5, "2b" -> 100.0, "2ant" -> 100.0, "4a" -> 1000.0 / 7, "4b" -> 100.0,
      "6" -> 1000.0 / 3.5, "7a" -> 1000.0 / 3.5, "7b" -> 1000.0 / 3.5,
      "8a" -> 1000.0 / 7.5, "8b" -> 1000.0 / 9, "10a" -> 100.0),
    "Justiça Militar da União" -> Map(
      "2a" -> 1000.0 / 9.5, "2b" -> 1000.0 / 9.9, "2ant" -> 100.0,
      "4a" -> 1000.0 / 9.5, "4b" -> 1000.0 / 9.9),
    "Justiça Militar Estadual" -> Map(
      "2a" -> 1000.0 / 9, "2b" -> 1000.0 / 9.5, "2ant" -> 100.0,
      "4a" -> 1000.0 / 9.5, "4b" -> 1000.0 / 9.9),
    "Tribunal Superior Eleitoral" -> Map(
      "2a" -> 1000.0 / 7.0, "2b" -> 1000.0 / 9.9, "2ant" -> 100.0,
      "4a" -> 1000.0 / 9, "4b" -> 1000.0 / 5),
    "Tribunal Superior do Trabalho" -> Map(
      "2a" -> 1000.0 / 8.5, "2b" -> 1000.0 / 9.9, "2ant" -> 100.0,
      "4a" -> 1000.0 / 7, "4b" -> 100.0),
    "Superior Tribunal de Justiça" -> Map(
      "2ant" -> 100.0, "4a" -> 1000.0 / 9, "4b" -> 100.0, "6" -> 1000.0 / 7.5,
      "7a" -> 1000.0 / 7.5, "7b" -> 1000.0 / 7.5, "8" -> 1000.0 / 10, "10" -> 1000.0 / 10))

  /** Column name for a factor key's [[branchFactor]] column. */
  def fcol(key: String): String = s"f_$key"

  /** Branch remap of Versao_Np.py:11-24 as a when-chain on the branch. */
  def ramoUsado(ramo: Column, sigla: Column): Column =
    when(ramo === "Tribunais Superiores",
      when(sigla === "TST", lit("Tribunal Superior do Trabalho"))
        .when(sigla === "STJ", lit("Superior Tribunal de Justiça"))
        .otherwise(ramo))
      .when(ramo === "Justiça Eleitoral", lit("Tribunal Superior Eleitoral"))
      .otherwise(ramo)

  /** The remapped branch's own factor for `key`, null when the branch
    * has none or is not mapped: a lookup in a literal map of the
    * branches that carry the key. A projection, not a join, so over a
    * driver-local summary it folds on the driver with no Spark job. */
  def branchFactor(key: String, ramoUsado: Column): Column =
    typedLit(byBranch.collect { case (ramo, fs) if fs.contains(key) => ramo -> fs(key) })
      .apply(ramoUsado)

  /** Per-key effective factor after the two-level fallback: the
    * branch's own value if present, else the Justiça-Estadual constant,
    * else null. The frame must already carry the f_* columns (all null
    * for an unmapped branch). */
  def effectiveFactor(key: String): Column =
    je.get(key) match {
      case Some(v) => coalesce(col(fcol(key)), lit(v))
      case None => col(fcol(key)) // '8'/'10' have no JE fallback
    }
}
