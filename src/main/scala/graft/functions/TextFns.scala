package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar/string functions of the reference, §2.3 of SURVEY.md, re-expressed
  * as composable `Column => Column` pipelines so they stay inside
  * WholeStageCodegen (no UDFs).
  *
  * Reference behavior: /root/reference/src/db/client.ts:5-31 (limits +
  * sanitize_input), pinned by /root/reference/src/db/sanitize.test.ts:4-47.
  */
object TextFns {

  /** Input caps — /root/reference/src/db/client.ts:5-9 */
  val MaxNameLength = 256
  val MaxEntityTypeLength = 256
  val MaxRelationTypeLength = 256
  val MaxObservationLength = 4096
  val MaxObservationsPerEntity = 100
  val MaxSearchResults = 50
  val DefaultSearchResults = 10
  /** Search-query length cap — /root/reference/src/index.ts:40 (valibot
    * maxLength(512) at the MCP boundary rejects longer queries).
    */
  val MaxSearchQueryLength = 512

  /** Query validation shared by every search entry point: non-empty
    * (client.ts:448-454) and ≤512 chars (index.ts:40).
    */
  def validateQuery(query: String): Unit = {
    require(query != null && query.trim.nonEmpty,
      "Search query must be a non-empty string")
    require(query.length <= MaxSearchQueryLength,
      s"Search query exceeds $MaxSearchQueryLength characters")
  }

  /** S1 `sanitize_input` (client.ts:17-31): strip non-printable control chars
    * except \n and \t, collapse 3+ newlines to exactly two, trim.
    * Java regex supports `\P{C}` (Unicode "other" category) like the JS `\p{C}`
    * with the /u flag the reference uses.
    */
  /** Trim class matching ECMAScript's `String.prototype.trim` (the
    * reference's client.ts:30): WhiteSpace (\t \v \f space + category Zs +
    * ZWNBSP/BOM U+FEFF) ∪ LineTerminator (\n \r U+2028 U+2029). Java's bare
    * `\s` is ASCII-only and would leave NBSP/ideographic-space/BOM at the
    * ends. `\s ∪ \p{Z} ∪ U+FEFF` is exactly the JS set: `\p{Z}` supplies
    * Zs plus U+2028/U+2029 (Zl/Zp). U+0085 (NEL, category Cc) is not JS
    * whitespace and is removed everywhere by the control-strip pass anyway.
    */
  private val JsTrimClass = "[\\s\\p{Z}\\x{FEFF}]"

  def sanitizeInput(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, "[^\\P{C}\\n\\t]", ""),
        "\\n{3,}",
        "\n\n"),
      s"^$JsTrimClass+|$JsTrimClass+$$", "") // regex trim: Spark's trim()
                         // strips only spaces, but the reference's JS
                         // .trim() strips Unicode whitespace (incl. NBSP)

  /** S2 truncation (client.ts:75-78,93-96,128-131). Counts codepoints
    * (Spark `substring`) where the JS reference counts UTF-16 units — pinned
    * divergence per SURVEY §2.3 S2.
    */
  def truncate(c: Column, max: Int): Column = substring(c, 1, max)

  /** Sanitize-then-truncate pipelines used on every write path. */
  def cleanName(c: Column): Column = truncate(sanitizeInput(c), MaxNameLength)
  def cleanEntityType(c: Column): Column = truncate(sanitizeInput(c), MaxEntityTypeLength)
  def cleanObservation(c: Column): Column = truncate(sanitizeInput(c), MaxObservationLength)

  /** S3 non-empty validation, in-plan form (client.ts:68-81). */
  def isNonBlank(c: Column): Column = length(trim(c)) > 0

  /** Driver-side S1 twin for single values (validation error messages etc.).
    * Must agree with `sanitizeInput`.
    */
  def sanitizeInputScala(s: String): String =
    s.replaceAll("[^\\P{C}\\n\\t]", "").replaceAll("\\n{3,}", "\n\n")
      .replaceAll(s"^$JsTrimClass+|$JsTrimClass+$$", "")

  /** S7 LIKE-pattern compile (client.ts:217): runs of whitespace/_/- become
    * multi-char wildcards; wrap in %...% for infix match.
    */
  def likePattern(query: String): String =
    "%" + query.replaceAll("[\\s_-]+", "%") + "%"

  /** S4 case-insensitive LIKE (COLLATE NOCASE in the reference,
    * client.ts:226-234). Unicode case folding (strictly more matches than
    * SQLite's ASCII-only NOCASE — pinned divergence, SURVEY §2.3 S4).
    */
  def ciLike(c: Column, pattern: String): Column =
    // Locale.ROOT: the driver-side lowercase must match Spark's
    // locale-independent lower() — under e.g. a Turkish default locale
    // "I".toLowerCase is "ı" (dotless) and the pattern silently stops
    // matching the column side.
    lower(c).like(pattern.toLowerCase(java.util.Locale.ROOT))

  /** S5 CASE relevance scoring (client.ts:225-229): name hit → 3,
    * type hit → 2, observation-only hit → 1.
    */
  def relevanceScore(name: Column, entityType: Column, pattern: String): Column =
    when(ciLike(name, pattern), 3)
      .when(ciLike(entityType, pattern), 2)
      .otherwise(1)

  /** R5 result-limit clamp (client.ts:214,244,268-270). */
  def clampLimit(limit: Int): Int =
    if (limit <= 0) DefaultSearchResults else math.min(limit, MaxSearchResults)
}
