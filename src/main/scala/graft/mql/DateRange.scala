package graft.mql

import graft.model.Meta

/** The temporal date-range dimension applied to every query
  * (reference: metrique/parse.py:74-130,305-314; semantics frozen in
  * the reference's test_parse.py:54-76).
  *
  * Forms (d = datetime literal):
  *  - `null`   → current snapshot only: `_end == None`
  *  - `"~"`    → all history (no filter)
  *  - `"d"`    → as-of instant: `_start < d and (_end >= d or _end == None)`
  *               — note STRICTLY-before on `_start` (parse.py:109-124)
  *  - `"~d"`   → started before d: `_start < d`
  *  - `"d~"`   → alive on/after d: `_end >= d or _end == None`
  *  - `"a~b"`  → overlaps [a,b]: `_start < b and (_end >= a or _end == None)`
  */
object DateRange {

  /** Generate the MQL fragment for a date spec (None ⇒ current). */
  def toMql(date: Option[String]): Option[String] = date match {
    case None => Some(s"${Meta.END} == None")
    case Some("~") => None
    case Some(spec) =>
      val parts = spec.split("~", -1)
      def q(s: String) = s"date('${s.trim}')"
      parts match {
        case Array(d) if d.trim.nonEmpty =>
          Some(s"${Meta.START} < ${q(d)} and (${Meta.END} >= ${q(d)} or ${Meta.END} == None)")
        case Array("", d) =>
          Some(s"${Meta.START} < ${q(d)}")
        case Array(d, "") =>
          Some(s"(${Meta.END} >= ${q(d)} or ${Meta.END} == None)")
        case Array(a, b) =>
          Some(s"${Meta.START} < ${q(b)} and (${Meta.END} >= ${q(a)} or ${Meta.END} == None)")
        case _ =>
          throw new MqlParseException(s"invalid date spec: $spec")
      }
  }

  /** Compile a date spec + optional user query into one predicate. */
  def fullQuery(query: Option[String], date: Option[String]): Option[String] = {
    val dateMql = toMql(date)
    (query.filter(_.trim.nonEmpty), dateMql) match {
      case (Some(q), Some(d)) => Some(s"($q) and $d")
      case (Some(q), None) => Some(q)
      case (None, d) => d
    }
  }
}
