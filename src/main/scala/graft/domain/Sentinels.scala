package graft.domain

/** The reference's sentinel values, in ONE place (SURVEY §7.4 risk #5:
  * scattered sentinel dates and off-by-one conventions are a defect
  * magnet).
  *
  * - OPEN_END `'2099-01-01'`: open-ended effective range
  *   (`scripts/proposal-builder.ts:1072,1104`;
  *   `sql/transforms/07-deprecated-hierarchies.sql:266`)
  */
object Sentinels {
  val OpenEnd = "2099-01-01"
}
