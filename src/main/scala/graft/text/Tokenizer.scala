package graft.text

import graft.text.PyText._

/** BM25 tokenizer — behavioral port of the reference's
  * `BM25Index._tokenize` (rafalpronko/pdf-parser,
  * `app/retrieval/bm25_index.py:208-227`): lowercase, strip punctuation
  * (`re.sub(r"[^\w\s]", " ")` with Python's unicode-aware classes), split
  * on whitespace, keep tokens of at least 2 code points (Python's `len`)
  * not in the 62-word stoplist (`bm25_index.py:14-76`); if everything is
  * filtered, fall back to the plain split of the cleaned text.
  *
  * Pure function; `tokenizeSql`-equivalent column forms live in
  * `graft.retrieval.Retrieval` so this file stays Spark-free.
  */
object Tokenizer {

  /** `STOP_WORDS` (`bm25_index.py:14-74`), verbatim. */
  val StopWords: Set[String] = Set(
    "a", "an", "the", "and", "or", "but", "in", "on", "at", "to", "for",
    "of", "with", "by", "from", "is", "are", "was", "were", "be", "been",
    "being", "have", "has", "had", "do", "does", "did", "will", "would",
    "could", "should", "may", "might", "shall", "can", "not", "no", "nor",
    "so", "if", "then", "than", "that", "this", "these", "those", "it",
    "its", "as", "up", "out", "about", "into", "over", "after", "before")

  val MinTokenLength = 2

  private val NonWordOrSpace = pyPattern("[^\\w\\s]")

  /** Lowercase + punctuation→space, the pre-split "cleaned" text. */
  def clean(text: String): String =
    NonWordOrSpace.matcher(text.toLowerCase(java.util.Locale.ROOT))
      .replaceAll(" ")

  /** `_tokenize` (`bm25_index.py:208-227`). */
  def tokenize(text: String): Vector[String] = {
    val cleaned = clean(text)
    val all = pySplit(cleaned)
    val kept = all.filter(t => longEnough(t) && !StopWords(t))
    if (kept.nonEmpty) kept else all
  }

  /** Python's `len(t) >= 2`: `len` counts code points, so a lone astral
    * letter (math-italic 𝑥, a CJK Ext-B ideograph) is one character, not
    * two UTF-16 units. Only a token shorter than twice the minimum can
    * differ, so longer ones skip the count.
    */
  private def longEnough(t: String): Boolean =
    t.length >= MinTokenLength &&
      (t.length >= 2 * MinTokenLength || t.codePointCount(0, t.length) >= MinTokenLength)
}
