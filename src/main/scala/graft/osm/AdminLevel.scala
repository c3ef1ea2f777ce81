package graft.osm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Operator F2 — admin-level range predicate (the reference's
  * `src/osm_reader.rs:45-53`). The same tag is parsed
  * with TWO different defaults (SURVEY.md §1.2): i8 with default 127 on the
  * filter side (here), i64 with default 0 on the output side
  * (its `src/converter.rs:131`, in [[BoundaryExtract.assemblePolygon]])
  * — both preserved.
  */
object AdminLevel {

  /** Rust `str::parse::<i8>()` semantics: optional sign, digits only, no
    * whitespace, value must fit i8 — else None.
    */
  def parseI8(s: String): Option[Byte] =
    if (s != null && s.matches("[+-]?[0-9]+")) {
      try {
        val v = BigInt(s)
        if (v >= -128 && v <= 127) Some(v.toByte) else None
      } catch { case _: Throwable => None }
    } else None

  /** Pure kernel — exact `has_proper_admin_level` port (osm_reader.rs:45-53):
    * tags["admin_level"] parsed as i8, default i8::MAX = 127.
    */
  def hasProperAdminLevel(tags: Map[String, String], minAdmin: Int, maxAdmin: Int): Boolean = {
    val lvl: Int = tags.get("admin_level").flatMap(parseI8).map(_.toInt).getOrElse(127)
    minAdmin <= lvl && lvl <= maxAdmin
  }

  /** Column form of the filter-side parse. Spark's bare `try_cast(string as
    * int)` is looser than Rust's parse (trims whitespace), so we gate on the
    * exact Rust-accepted grammar first. Whole-stage-codegen friendly
    * (rlike + try_cast + coalesce, no UDF).
    */
  def adminLevelI8Col(tag: Column): Column = {
    val asLong = tag.try_cast("bigint")
    coalesce(
      when(tag.rlike("^[+-]?[0-9]+$") && asLong.between(-128, 127), asLong.cast("int")),
      lit(127))
  }
}
