package graft.cnj

/** The static per-branch factor table of the reference (Versao_Np.py:
  * 41-61): one map per branch, from factor key to factor, and the lookup
  * rules over it as plain Scala, called once per court by [[MetaKernel]].
  *
  * Lookup semantics (Versao_Np.py:10-30,122):
  *  1. branch remap: 'Tribunais Superiores' -> TST/STJ-specific branch by
  *     sigla; 'Justiça Eleitoral' -> 'Tribunal Superior Eleitoral';
  *  2. unmapped branch -> fall back to the whole 'Justiça Estadual' row;
  *  3. per-key fallback: a branch missing a factor key borrows the
  *     'Justiça Estadual' value for that key ('NA' if JE lacks it too).
  * Steps 2-3 are the reference's two dict lookups ([[factor]]).
  */
object Factors {

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

  /** Branch remap of Versao_Np.py:11-24: the superior courts take their
    * own court's row, the electoral branch takes the TSE's. A null
    * branch stays null. */
  def ramoUsado(ramo: String, sigla: String): String = ramo match {
    case "Tribunais Superiores" => sigla match {
      case "TST" => "Tribunal Superior do Trabalho"
      case "STJ" => "Superior Tribunal de Justiça"
      case _ => ramo
    }
    case "Justiça Eleitoral" => "Tribunal Superior Eleitoral"
    case _ => ramo
  }

  /** The remapped branch has a row in the table; an unmapped one takes
    * the Justiça Estadual factors and is warned about. */
  def mapped(ramoUsado: String): Boolean = byBranch.contains(ramoUsado)

  /** Effective factor for `key` after the two-level fallback: the
    * remapped branch's own value, else the Justiça Estadual value, else
    * none. The STJ-only keys '8'/'10' have no JE value, so only a branch
    * that carries them gets them. */
  def factor(key: String, ramoUsado: String): Option[Double] =
    byBranch.get(ramoUsado).flatMap(_.get(key)).orElse(je.get(key))
}
