package graft.ops

/** Engine-parity expression builders shared by the C-series operators.
  *
  * Every helper emits a (Spark SQL, DuckDB SQL) pair with the SAME
  * association order, so results are bit-identical across engines:
  *  - integer hashing: md5-derived 60-bit lanes (`conv(substr(md5 ..))` ≡
  *    `('0x'||substr(md5 ..))::BIGINT`) — SURVEY.md §6
  *  - double math: explicit sequential folds (Spark `aggregate` ≡ DuckDB
  *    `list_reduce`); IEEE +,*,/,sqrt are correctly rounded, so identical
  *    op sequences give identical bits in both engines.
  */
object TextExprs {

  /** 60-bit md5-derived hash of a string expression. */
  def h64Spark(x: String): String =
    s"CAST(conv(substr(md5($x), 1, 15), 16, 10) AS BIGINT)"

  def h64Duck(x: String): String =
    s"('0x'||substr(md5($x),1,15))::BIGINT"

  /** Whitespace tokens. */
  val wordsSpark = "split(text, ' ')"
  val wordsDuck = "string_split(text, ' ')"

  /** Document fingerprint over a tokenized column `w`: minimum trigram
    * shingle hash — shared by C19/C25 and the D9 streaming form so batch
    * and stream decontaminate with bit-identical fingerprints.
    */
  def fpSpark: String = s"array_min(transform($trigramsSpark, g -> ${h64Spark("g")}))"

  /** Word trigram shingles over a column named `w` (guard `size >= 3`
    * at the query level — Spark's `sequence` runs DESCENDING when
    * stop < start).
    */
  val trigramsSpark: String =
    "transform(sequence(1, size(w) - 2), i -> " +
      "concat(element_at(w, i), ' ', element_at(w, i + 1), ' ', element_at(w, i + 2)))"

  val trigramsDuck: String =
    "list_transform(range(1, len(w) - 1), i -> w[i]||' '||w[i+1]||' '||w[i+2])"

  /** Sequential double dot product of two DOUBLE arrays. */
  def dotDuck(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> $a[i] * $b[i])), (s, x) -> s + x)"

  /** Sequential sum of squares (vector norm²). */
  def norm2Duck(a: String): String =
    s"list_reduce(list_prepend(0.0, list_transform($a, x -> x * x)), (s, x) -> s + x)"

  /** Driver-side md5 60-bit hash — same value the engines compute; used to
    * derive deterministic constants (LSH hyperplanes) at plan-build time.
    */
  def h64Local(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }
}
