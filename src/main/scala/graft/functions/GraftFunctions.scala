package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar expression library re-expressing the reference's free functions
  * as codegen-friendly Catalyst expression compositions (no Scala UDFs).
  *
  * Reference semantics:
  *  - gender decode: /root/reference/src/movie_etl/utils/etl.py:10-15,31-34
  *  - crew-department routing: utils/etl.py:17-29,36-39
  *  - magnitude-suffixed counts ("1.2K"/"3M"): tasks/etl_task.py:363-373
  *  - percent strings ("57%"): tasks/etl_task.py:428-438, utils/etl.py:75-77
  *  - comma-grouped counts ("1,234"): tasks/etl_task.py:429,436
  *  - score x10 scaling: tasks/etl_task.py:378, utils/etl.py:80
  *  - ""->NULL / 0->NULL conventions: tasks/etl_task.py:189-194
  *  - relationship_id synthesis: tasks/kg_task.py:56-61
  */
object GraftFunctions {

  /** Reference convention: empty string means missing (etl_task.py:189). */
  def nullIfEmpty(c: Column): Column = nullif(c, lit(""))

  /** A scraped string (or a figure derived from one) as type `to`, NULL
    * where it does not parse: '' from a pattern that missed, "tbd", a
    * digit run past the type's range. This is the reference's
    * try/except -> None; a plain cast fails the whole job on such a value
    * under ANSI mode. Every cast of scraped input goes through here.
    */
  def tryParse(c: Column, to: String): Column = c.try_cast(to)

  /** Reference convention: zero means missing (etl_task.py:192-194). */
  def nullIfZero(c: Column): Column = nullif(c, lit(0))

  /** TMDB gender enum decode (utils/etl.py:10-15). The reference raises
    * KeyError on unknown codes; we deliberately yield NULL instead (the
    * drift-tolerant choice documented in SURVEY.md §1.4). Chained `when`
    * (not `element_at(map,…)`) so ANSI mode cannot throw on unknown keys.
    */
  def decodeGender(c: Column): Column =
    when(c === 0, "Not specified")
      .when(c === 1, "Female")
      .when(c === 2, "Male")
      .when(c === 3, "Non-binary")

  /** Crew department -> relationship-type routing (utils/etl.py:17-29).
    * Spellings ("LIGHTNING_BY", "COSTUMED_AND_MAKEUP_BY") intentionally
    * preserved from the reference for parity. Unknown departments -> NULL.
    */
  def departmentToRelType(c: Column): Column =
    when(c === "Writing", "WRITTEN_BY")
      .when(c === "Editing", "EDITED_BY")
      .when(c === "Crew", "CREW_BY")
      .when(c === "Directing", "DIRECTED_BY")
      .when(c === "Camera", "CAMERA_BY")
      .when(c === "Lighting", "LIGHTNING_BY")
      .when(c === "Costume & Make-Up", "COSTUMED_AND_MAKEUP_BY")
      .when(c === "Sound", "SOUND_BY")
      .when(c === "Production", "PRODUCED_BY")
      .when(c === "Art", "ART_BY")
      .when(c === "Visual Effects", "VISUAL_EFFECTS_BY")

  /** Parse magnitude-suffixed review counts: "1.2K" -> 1200.0, "3M" ->
    * 3000000.0, "991" -> 991.0 (etl_task.py:363-373). NULL on garbage.
    */
  def parseMagnitude(c: Column): Column = {
    val num    = regexp_extract(c, "^([0-9]+(?:\\.[0-9]+)?)([KM]?)$", 1)
    val suffix = regexp_extract(c, "^([0-9]+(?:\\.[0-9]+)?)([KM]?)$", 2)
    val base   = tryParse(num, "double")
    when(suffix === "K", base * 1000d)
      .when(suffix === "M", base * 1000000d)
      .otherwise(base)
  }

  /** Parse "57%" -> 57 (int); NULL when no percent figure present
    * (etl_task.py:428-438: try/except -> None).
    */
  def parsePercent(c: Column): Column =
    tryParse(regexp_extract(c, "([0-9]+)%", 1), "int")

  /** Parse comma-grouped counts "1,234" -> 1234 (etl_task.py:429,436). */
  def parseGroupedCount(c: Column): Column =
    tryParse(regexp_replace(regexp_extract(c, "([0-9][0-9,]*)", 1), ",", ""), "long")

  /** Score scaling: 0-10 scale with a decimal point -> 0-100 int; already
    * 0-100 integral scores pass through (utils/etl.py:80; etl_task.py:378).
    * NULL for a score that does not parse ("tbd").
    */
  def scaleScore(c: Column): Column = {
    val v = tryParse(c, "double")
    tryParse(when(c.contains("."), v * 10).otherwise(v), "int")
  }

  /** Synthesized edge identity "{head_key}-{tail_key}" (kg_task.py:56-61). */
  def relationshipId(headKey: Column, tailKey: Column): Column =
    concat_ws("-", headKey, tailKey)

  /** Tokenize on whitespace, lowercased. Shared by text analysis + dedup. */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** Canonical text normalization used for exact-dup fingerprints:
    * lowercase, strip non-alphanumerics to single spaces, trim.
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9]+", " "), " +", " "))
}
