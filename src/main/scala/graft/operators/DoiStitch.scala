package graft.operators

import java.util.regex.Pattern

/** Proposal-code and DOI extraction with the ILL multi-token suffix
  * reconstruction — semantics re-derived from
  * `utils/nlp/CodeAnalyser/CodeAnalyserService.java:28-186`.
  *
  * The interesting part is `analyseIllDoi`: an ILL data DOI
  * (`10.5291/ILL…`) is often split from its proposal-code suffix by
  * the PDF text extractor (`10.5291/ILL -DATA.8-76-780`), so after
  * each DOI hit the following words (within a 20-char window) are
  * re-validated against the proposal-code grammar and stitched back
  * onto the DOI. The reference's five stitch attempts are sequential
  * and cumulative — each appends to the DOI already extended by the
  * previous ones — which this port reproduces, including the
  * double-`w1` quirk of the last attempt.
  *
  * Pure string → list functions: used from a UDF over the distinct
  * document text (never per token), exploded into entity rows.
  */
object DoiStitch {

  /** The proposal-code grammar (reference line 28), reused verbatim by
    * both the code extractor and the DOI suffix validation. */
  val proposalCodeGrammar: String =
    "[1-9]-[0-9]{1,2}-[0-9]{1,4}|CRG-[0-9]{2,4}|TEST-[0-9]{1,4}|" +
    "INTER-[0-9]{1,4}|BAG-[0-9]{1,2}-[0-9]{1,4}|EASY-[0-9]{1,4}|" +
    "DL-[0-9]{1,2}-[0-9]{1,4}|LTP-[0-9]{1,2}[A-Z]{0,1}-[0-9]{1,4}|" +
    "DIR-[0-9]{1,3}|UGA-[0-9]{1,3}|INDU-[0-9]{1,3}|ST-[0-9]{1,3}|" +
    "DEUT-[0-9]{1,3}"

  private val codeRe = Pattern.compile(proposalCodeGrammar)
  private val doiRe = Pattern.compile(
    "\\b(10[.][0-9]{4,}(?:[.][0-9]+)*/(?:(?![\"&\\'<>])\\S)+)\\b")
  private val windowChars = 20

  private def asciiFold(text: String): String = Cleaning.asciiFold(text)

  /** Proposal codes (> 4 chars) over the newline-stripped, ASCII-folded
    * text. */
  def analyseCode(text: String): Seq[String] = {
    val t = asciiFold(text.replace("\n", "").replace("\r", ""))
    val m = codeRe.matcher(t)
    val out = Seq.newBuilder[String]
    while (m.find()) if (m.group().length > 4) out += m.group()
    out.result()
  }

  /** DOI extraction with ILL suffix stitching. */
  def analyseIllDoi(text: String): Seq[String] = {
    val t = asciiFold(text)
    val m = doiRe.matcher(t)
    val out = Seq.newBuilder[String]
    while (m.find()) {
      var doi = m.group(0)
      if (doi.contains("10.5291/ILL")) {
        // words following the DOI inside the stitch window, with one
        // trailing . , ; stripped per word and bare dashes dropped
        val sentence = t.substring(m.start(0),
          math.min(t.length, m.end(0) + windowChars))
        val after = sentence.drop(doi.length).split(" ").toSeq
          .filter(_.nonEmpty)
          .map(w => if (w.endsWith(".") || w.endsWith(",") || w.endsWith(";"))
            w.dropRight(1) else w)
          .filter(_.nonEmpty)
          .filterNot(_ == "-")
        val doiParts = doi.split("\\.").toSeq.filter(_.nonEmpty)
        def isCode(s: String): Boolean = s.matches(proposalCodeGrammar)

        // attempt 1: last DOI segment + next word completes a code
        if (after.nonEmpty && doiParts.nonEmpty &&
            isCode(doiParts.last + after(0)))
          doi += after(0)
        // attempt 2: last DOI segment + next two words
        if (after.length > 1 && doiParts.nonEmpty &&
            isCode(doiParts.last + after(0) + after(1)))
          doi += after(0) + after(1)
        // attempt 3: the next word alone is a code
        if (after.nonEmpty && isCode(after(0)))
          doi += after(0)
        // attempt 4: "DATA.<code>" / "-DATA.<code>" split word
        if (after.nonEmpty && after(0).split("\\.").length > 1) {
          val data = after(0).split("\\.")(0)
          val code = after(0).split("\\.")(1)
          if (isCode(code) && data == "DATA") doi += "DATA." + code
          if (isCode(code) && data == "-DATA") doi += "-DATA." + code
        }
        // attempt 5: three words — reference concatenates w0 + w1 + w1
        // (sic), reproduced for parity
        if (after.length > 2 && isCode(after(0) + after(1) + after(1)))
          doi += after(0) + after(1) + after(1)
      }
      out += doi
    }
    out.result()
  }
}
