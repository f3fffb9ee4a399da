package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

/** String-normalization bank for dedup (reference:
  * `deduplication/PersonCleanerStage.scala:35-199`,
  * `utils/StringComparer.scala:18-117`): accent folding, punctuation
  * stripping, whitespace collapse, embedded-id/email extraction.
  *
  * Everything except accent folding is plain column expressions
  * (codegen-friendly). Accent folding needs Unicode NFD decomposition,
  * which has no Spark built-in — a scalar UDF is the documented
  * boundary (SURVEY.md §2.8); it is pure and cheap.
  */
object Cleaning {

  /** NFD-decompose then drop combining marks: "Café" -> "Cafe". */
  val foldAccents: UserDefinedFunction = udf { s: String =>
    if (s == null) null
    else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFD)
      .replaceAll("\\p{M}", "")
  }

  /** NFD-decompose then drop ALL non-ASCII (stricter than
    * [[foldAccents]], which keeps non-ASCII non-marks) — the fold the
    * reference's code/word analysers apply to raw text. One shared
    * helper so the extractors cannot silently diverge. */
  def asciiFold(s: String): String =
    java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFD)
      .replaceAll("[^\\p{ASCII}]", "")

  /** Lowercase, strip everything but letters/digits/space, collapse
    * runs of whitespace, trim. Oracle spelling: lower + regexp_replace
    * + trim, identical semantics. */
  def cleanText(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(c), "[^a-z0-9 ]", " "), " +", " "))

  /** First embedded integer id, or null ("Customer#000000042" -> 42). */
  def embeddedId(c: Column): Column =
    nullif(regexp_extract(c, "([0-9]+)", 1), lit("")).cast("long")
}
