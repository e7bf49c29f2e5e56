package graft

import graft.tools.CoverageLedger._

/** The coverage ledger ([[graft.tools.CoverageLedger]]) seen one obligation
  * at a time. Each ledger spec owns the obligations of one record and asserts
  * that these sets are empty for them; together the specs cover every
  * obligation. No SparkSession: only the queries map's keys and the
  * committed records are read.
  */
object LedgerChecks {
  val queries: Set[String] = SparkEntry.queries.keySet
  lazy val records: Records = committed()

  private def owned(os: Seq[String], ps: Set[(String, String)]) =
    ps.filter(p => os.contains(p._1))

  private def exemptions(os: Seq[String]) = owned(os, exempt.keySet)

  /** Owed rows that are missing and carry no exemption. */
  def unmet(os: String*): Set[(String, String)] =
    owned(os, missing(queries, records) -- exempt.keySet)

  /** (record, key) rows naming queries that no longer exist. */
  def staleRows(os: String*): Set[(String, String)] = owned(os, stale(queries, records))

  /** Exemptions for queries that no longer exist. */
  def deadExemptions(os: String*): Set[(String, String)] =
    exemptions(os).filterNot(p => queries(p._2))

  /** Exemptions for rows the records already hold. */
  def heldExemptions(os: String*): Set[(String, String)] =
    exemptions(os).filter(p => queries(p._2)) -- missing(queries, records)

  /** Exemptions whose reason is under 40 characters. */
  def thinExemptions(os: String*): Set[(String, String)] =
    exemptions(os).filter(p => exempt(p).trim.length < 40)

  /** "obligation: q1, q2; ..." for an assertion message. */
  def show(ps: Set[(String, String)]): String =
    ps.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (o, xs) => s"$o: ${xs.map(_._2).toSeq.sorted.mkString(", ")}" }
      .mkString("; ")

  val recipe = "recipes in the CoverageLedger scaladoc"
}
