package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar layer reproducing the reference's per-value transforms as
  * pure `Column` expressions (Catalyst-optimizable, codegen'd — no
  * UDFs, SURVEY §2.9 policy).
  *
  * Reference semantics (file:line cites are into /root/reference):
  *  - typify cascade: trial int() → float() → keep string
  *    (clients/dynamodb.py:51-63), guarded so values containing
  *    inf/nan/e are never numified (clients/dynamodb.py:53-54 — the
  *    "1E1771" guard).
  *  - key normalization: prefix strip + trim
  *    (clients/exclusion_requests.py:39-54).
  */
object Scalars {

  /** inf/nan/e numeric guard (clients/dynamodb.py:53-54). */
  def numifiable(c: Column): Column = {
    val s = lower(trim(c.cast("string")))
    !(s.contains("inf") || s.contains("nan") || s.contains("e"))
  }

  // int() accepts optional sign + digits; capped at 18 digits so the
  // guarded plain cast can never overflow a LongType (values longer
  // than 18 digits fall through to the double leg, mirroring Python's
  // arbitrary-precision int only approximately — documented drift).
  private val longRe = "^[+-]?[0-9]{1,18}$"
  // float() without exponent forms — exponent is excluded by the
  // guard anyway (clients/dynamodb.py:54).
  private val doubleRe = "^[+-]?([0-9]+\\.?[0-9]*|\\.[0-9]+)$"

  /** int() leg of the cascade (clients/dynamodb.py:55-57): null when
    * the value is not an integer literal. Guarded regex + plain cast
    * keeps this safe under ANSI mode (never throws).
    */
  def typifyLong(c: Column): Column = {
    val s = trim(c.cast("string"))
    when(numifiable(c) && s.rlike(longRe), s.cast("long"))
  }

  /** float() leg (clients/dynamodb.py:59-61), reached only when the
    * int leg failed.
    */
  def typifyDouble(c: Column): Column = {
    val s = trim(c.cast("string"))
    when(numifiable(c) && !s.rlike(longRe) && s.rlike(doubleRe), s.cast("double"))
  }

  /** Whole cascade as one numeric column (long leg widened to double);
    * null ⇒ "stays a string" in the reference's document model.
    */
  def typifyNumber(c: Column): Column =
    coalesce(typifyLong(c).cast("double"), typifyDouble(c))

  /** Key normalization: strip the four scrape markers
    * (clients/exclusion_requests.py:45-48) then trim (:53). The
    * reference chains four str.replace calls — each a single
    * left-to-right replace-ALL pass — and [[stripMarkers]] chains
    * four literal `replace` expressions in the same order: EXACT
    * parity, including the case where removing an earlier marker
    * exposes a match for a later one (the old single-pass regex
    * alternation documented that as unreachable drift; the chain
    * retires it), and literal byte search instead of a regex engine
    * per key.
    */
  /** The four scrape markers in the reference's replace order
    * (single source of truth — the FormInputs tag parser strips the
    * same set, without the trim; the q_regex_clean oracle chains the
    * same four literals).
    */
  val markerList: Seq[String] =
    Seq("BIS232Request.", "JSONData.", "BIS232Objection.",
      "BIS232ObjectionRebuttal")

  def stripMarkers(c: Column): Column =
    markerList.foldLeft(c)((acc, m) => replace(acc, lit(m), lit("")))

  def normalizeKey(c: Column): Column = trim(stripMarkers(c))

  /** Fallback key naming: title, else name, else "Untitled<idx>"
    * (clients/exclusion_requests.py:40-44).
    */
  def keyOrUntitled(title: Column, name: Column, idx: Column): Column =
    coalesce(nullIfEmpty(title), nullIfEmpty(name),
      concat(lit("Untitled"), idx.cast("string")))

  /** Empty string → null (the reference's empty-value drop,
    * clients/exclusion_requests.py:158, as a reusable building block).
    */
  def nullIfEmpty(c: Column): Column = when(length(trim(c)) > 0, trim(c))
}
