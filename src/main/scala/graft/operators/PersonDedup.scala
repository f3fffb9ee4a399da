package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Person-deduplication name rules — the umlaut rewrite chain and the
  * name/initials pair predicate, re-derived from
  * `deduplication/PersonCleanerStage.scala:35-199` and
  * `deduplication/PersonDeduplicationStage.scala:29-111` /
  * `utils/StringComparer.scala`.
  *
  * Everything is column expressions (codegen-friendly; the one UDF is
  * the existing NFD accent fold) so the blocked self-join runs the
  * predicate inside whole-stage codegen instead of a row-at-a-time
  * Scala filter over a typed Dataset (the reference's shape).
  *
  * Rewrite-chain order matters and reproduces the reference quirks:
  * ä→ae and ü→ue survive, but ö→oe is then collapsed by the later
  * oe→o rule — so ö-spelled names unify with their plain-o forms
  * while ä-spelled ones deliberately do not.
  */
object PersonDedup {

  private def nullOrEmpty(c: Column): Column = c.isNull || length(c) === 0

  /** The PersonCleanerStage.normalizeText chain, as ONE plain-JVM
    * string pass. An earlier Column-expression spelling cost ~1.3 ms
    * per person: `when(s.contains…)` branching embeds ~5 copies of the
    * nested replace chain in the expression tree (Catalyst cannot CSE
    * across a UDF boundary), and composed calls (firstLastName =
    * normalize∘firstWord∘normalize∘…) multiplied that to ~100 regex
    * evaluations per row — the real q88 hot spot, misattributed to
    * blocking in round 4. One UDF call per value is strictly cheaper
    * than the old shape, whose final accent fold was a UDF already. */
  def normalizeNameImpl(s: String): String = {
    if (s == null) return null
    var x = s.replace("ä", "ae").replace("ö", "oe").replace("ü", "ue")
    // OCR artifact rule: a¨/o¨/u¨ → the diaeresis becomes an e
    if (x.contains("a¨") || x.contains("o¨") || x.contains("u¨"))
      x = x.replace("¨", "e")
    x = x.replace("oe", "o")
    // reference normalizeText ends with NFD + strip of ALL non-ASCII
    // ([^\p{ASCII}]), not just combining marks — ß/ø/đ are dropped
    Cleaning.asciiFold(x)
  }

  private val normalizeNameUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf(normalizeNameImpl _)

  def normalizeName(c: Column): Column = normalizeNameUdf(c)

  /** StringUtils.firstWord: prefix before the first space
    * (substring_index — no regex engine in the pair-join path). */
  def firstWord(c: Column): Column = substring_index(c, " ", 1)

  /** firstNameCleaner: normalize, dots/dashes to spaces, trim. */
  def cleanFirstName(c: Column): Column =
    trim(regexp_replace(regexp_replace(normalizeName(c), "[.\\-]", " "),
      " +", " "))

  /** publicationNameCleaner: normalize; < 4 chars → null; dots/commas
    * to spaces. */
  def cleanPublicationName(c: Column): Column = {
    val n = normalizeName(c)
    when(length(n) < 4, lit(null).cast("string"))
      .otherwise(trim(regexp_replace(regexp_replace(n, "[.,]", " "), " +", " ")))
  }

  /** nameNormalizer: the cleaned lastname (falling back to the leading
    * word of the publication name), dashes removed, normalized. */
  def cleanLastName(last: Column, pub: Column): Column = {
    val base = when(!nullOrEmpty(last), last)
      .when(!nullOrEmpty(pub) && pub.contains(","),
        substring_index(pub, ",", 1))
      .when(!nullOrEmpty(pub) && pub.contains(" "),
        substring_index(pub, " ", 1))
      .otherwise(pub)
    normalizeName(regexp_replace(base, "-", " "))
  }

  /** firstLastNameCreator — the blocking key. */
  def firstLastName(cleanLast: Column, pub: Column): Column =
    when(!nullOrEmpty(cleanLast), normalizeName(firstWord(cleanLast)))
      .otherwise(firstWord(pub))

  /** publisherNameProbablyEqualToNames(A, B) with the leading lastname
    * word precomputed: does B's publication name look like A's
    * (lastname, firstname)? Callers should derive `fwLastA` ONCE per
    * person (see [[firstWord]]) — deriving it inside the quadratic
    * pair join would run the regex per pair instead of per person. */
  def pubMatchesPrepped(fwLastA: Column, firstA: Column,
                        pubB: Column): Column =
    !nullOrEmpty(fwLastA) && !nullOrEmpty(firstA) && !nullOrEmpty(pubB) && (
      pubB.startsWith(concat(fwLastA, lit(" "), substring(firstA, 1, 1))) ||
      (pubB.startsWith(concat(fwLastA, lit(" "))) &&
        pubB.endsWith(concat(lit(" "), firstA))) ||
      (pubB.endsWith(concat(lit(" "), fwLastA)) &&
        pubB.startsWith(concat(firstA, lit(" ")))))

  /** The lastname + firstname/initials branch, over precomputed
    * leading lastname words. */
  def lastFirstAgreementPrepped(first1: Column, fwLast1: Column,
                                first2: Column, fwLast2: Column): Column =
    !nullOrEmpty(fwLast1) && fwLast1 === fwLast2 &&
      !nullOrEmpty(first1) && !nullOrEmpty(first2) && (
        (length(first1) >= 2 && length(first2) >= 2 && first1 === first2) ||
        substring(first1, 1, 1) === substring(first2, 1, 1))

  // ---- DuckDB spellings (oracle side, kept adjacent like TextFns) ---

  def sqlNormalizeName(e: String): String = {
    val s3 = s"replace(replace(replace($e, 'ä', 'ae'), 'ö', 'oe'), 'ü', 'ue')"
    val s4 = s"CASE WHEN contains($s3, 'a¨') OR contains($s3, 'o¨') OR " +
      s"contains($s3, 'u¨') THEN replace($s3, '¨', 'e') ELSE $s3 END"
    // strip_accents NFD-folds marked letters; the trailing regexp drops
    // non-decomposable non-ASCII (ß, ø, đ) the way the Spark side does
    s"regexp_replace(strip_accents(replace($s4, 'oe', 'o')), " +
      "'[^\\x00-\\x7F]', '', 'g')"
  }

  def sqlFirstWord(e: String): String = s"regexp_extract($e, '^[^ ]*', 0)"

  def sqlCleanFirstName(e: String): String =
    s"trim(regexp_replace(regexp_replace(${sqlNormalizeName(e)}, " +
      "'[.\\-]', ' ', 'g'), ' +', ' ', 'g'))"

  def sqlCleanPublicationName(e: String): String = {
    val n = sqlNormalizeName(e)
    s"CASE WHEN length($n) < 4 THEN NULL ELSE " +
      s"trim(regexp_replace(regexp_replace($n, '[.,]', ' ', 'g'), ' +', ' ', 'g')) END"
  }

  def sqlCleanLastName(last: String, pub: String): String = {
    val base = s"CASE WHEN $last IS NOT NULL AND length($last) > 0 THEN $last " +
      s"WHEN $pub IS NOT NULL AND length($pub) > 0 AND contains($pub, ',') " +
      s"THEN split_part($pub, ',', 1) " +
      s"WHEN $pub IS NOT NULL AND length($pub) > 0 AND contains($pub, ' ') " +
      s"THEN split_part($pub, ' ', 1) ELSE $pub END"
    sqlNormalizeName(s"replace($base, '-', ' ')")
  }

  def sqlFirstLastName(cleanLast: String, pub: String): String =
    s"CASE WHEN $cleanLast IS NOT NULL AND length($cleanLast) > 0 " +
      s"THEN ${sqlNormalizeName(sqlFirstWord(cleanLast))} " +
      s"ELSE ${sqlFirstWord(pub)} END"

  def sqlPubMatches(firstA: String, lastA: String, pubB: String): String = {
    val ln = sqlFirstWord(lastA)
    s"""($ln IS NOT NULL AND length($ln) > 0
       AND $firstA IS NOT NULL AND length($firstA) > 0
       AND $pubB IS NOT NULL AND length($pubB) > 0 AND (
         starts_with($pubB, $ln || ' ' || substr($firstA, 1, 1)) OR
         (starts_with($pubB, $ln || ' ') AND ends_with($pubB, ' ' || $firstA)) OR
         (ends_with($pubB, ' ' || $ln) AND starts_with($pubB, $firstA || ' '))))"""
  }

  def sqlLastFirstAgreement(f1: String, l1: String,
                            f2: String, l2: String): String = {
    val (w1, w2) = (sqlFirstWord(l1), sqlFirstWord(l2))
    s"""($w1 IS NOT NULL AND length($w1) > 0 AND $w1 = $w2
       AND $f1 IS NOT NULL AND length($f1) > 0
       AND $f2 IS NOT NULL AND length($f2) > 0 AND (
         (length($f1) >= 2 AND length($f2) >= 2 AND $f1 = $f2) OR
         substr($f1, 1, 1) = substr($f2, 1, 1)))"""
  }
}
