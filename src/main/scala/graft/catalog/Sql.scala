package graft.catalog

import graft.lid.TextStats

/** DuckDB SQL fragments shared by the oracles. Each one reproduces one
  * construction of the Spark side bit for bit, in HUGEINT arithmetic
  * where the Spark side wraps 64-bit longs; the oracles that need it
  * name it instead of repeating it. */
private[catalog] object Sql {

  /** `TextStats.normText`, the text normalization of the `Dedup` tiers:
    * lower-cased, each run of the six ASCII whitespace chars one space,
    * then one edge space dropped at each end (DuckDB's `trim` strips only
    * spaces). The class is spelled out because RE2's `\s` leaves out
    * `\x0B`, which Java's includes. */
  def normText(c: String): String =
    s"trim(regexp_replace(lower($c), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))"

  /** `e · k mod 2^64` for `e`, `k` in [0, 2^64) — a JVM Long's wrapping
    * multiply. The product is split at 32 bits so that every partial
    * product fits HUGEINT. */
  def mulMod64(e: String, k: String): String =
    s"(($e % 4294967296) * $k + ((($e // 4294967296) * $k) % 4294967296) * 4294967296) % 18446744073709551616"

  /** splitmix64's finalizer (`Mix.fin`: two xor-shift-multiply rounds and
    * a last xor-shift) of `x`, an expression in [0, 2^64) over the rows of
    * `from`. Emits the CTEs `dst0`..`dst2` and `dst`; the last carries the
    * `keys` columns and the mixed value `z`. */
  def splitmixFin(dst: String, keys: String, x: String, from: String): String =
    s"""${dst}0 AS (SELECT $keys, $x AS x1 FROM $from),
        ${dst}1 AS (SELECT $keys, ${mulMod64("xor(x1, x1 // 1073741824)", "13787848793156543929")} AS x2 FROM ${dst}0),
        ${dst}2 AS (SELECT $keys, ${mulMod64("xor(x2, x2 // 134217728)", "10723151780598845931")} AS x3 FROM ${dst}1),
        $dst AS (SELECT $keys, xor(x3, x3 // 2147483648) AS z FROM ${dst}2)"""

  /** `Mix.mix(seed)`: the golden-ratio increment, then [[splitmixFin]].
    * `seed` must be HUGEINT-typed. */
  def splitmix(dst: String, keys: String, seed: String, from: String): String =
    splitmixFin(dst, keys, s"($seed + 11400714819323198485) % 18446744073709551616", from)

  /** FNV-1a 64 over the code points of the string column `s`, as
    * `TextStats.fnv64` and `TextStats.shingleHashes` hash a shingle; in
    * [0, 2^64). */
  def fnv1a64(s: String): String =
    s"""list_reduce(
          list_prepend(14695981039346656037::HUGEINT,
            list_transform(generate_series(1, length($s)),
              i -> unicode(substr($s, i, 1))::HUGEINT)),
          (acc, x) -> ${mulMod64("xor(acc, x)", "1099511628211")})"""

  /** `FROM` clause over every n-code-point window start `i` of the text `t` in
    * `src` rows satisfying `cond` (at most 2000; a text shorter than n has
    * one window, the whole text). */
  def windows(src: String, n: Int, cond: String = "TRUE"): String =
    s"$src, generate_series(1, 2000) g(i) WHERE $cond AND i <= greatest(length(t) - ${n - 1}, 1)"

  /** Distinct n-code-point shingles `s` of `t`, per `keep` columns (`""` for
    * the set over all rows), as `TextStats.shingles` cuts them. */
  def shingles(src: String, n: Int, keep: String = "doc_id, ",
      cond: String = "TRUE"): String =
    s"SELECT DISTINCT ${keep}substr(t, CAST(i AS INT), $n) AS s FROM ${windows(src, n, cond)}"

  /** Cosine similarity of two DOUBLE[] expressions, rounded as the vector
    * tiers round it. */
  def cosine(a: String, b: String): String =
    s"round(list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))), 4)"

  /** Sign-sketch buckets of the 64-dim embeddings (`Similarity.lshTopK`,
    * `Dedup.embeddingCosineLsh`): plane p's component d is
    * `Mix.mix(p·2^32 + d)` as a signed long over Long.MaxValue, and a
    * vector's bucket holds the sign bits of its `planes` dot products.
    * CTEs `v(vec_id, vec)`, `planes`, `bk` and `c(vec_id, vec, bucket)`;
    * `dropNull` drops null embeddings from `v`. */
  def signBuckets(planes: Int, dropNull: Boolean): String =
    s"""${splitmix("pm", "p, d", "p::HUGEINT * 4294967296 + d",
            s"generate_series(0, ${planes - 1}) gp(p), generate_series(0, 63) gd(d)")},
        comp AS (SELECT p, d,
          (CASE WHEN z >= 9223372036854775808 THEN z - 18446744073709551616 ELSE z END)::DOUBLE
            / 9223372036854775807 AS c
          FROM pm),
        planes AS (SELECT p, list(c ORDER BY d) AS pv FROM comp GROUP BY p),
        v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings${if (dropNull) " WHERE embedding IS NOT NULL" else ""}),
        bk AS (SELECT vec_id, sum(CASE WHEN list_dot_product(vec, pv) >= 0 THEN (1::BIGINT << p) ELSE 0 END) AS bucket
               FROM v CROSS JOIN planes GROUP BY vec_id),
        c AS (SELECT v.vec_id, vec, bucket FROM v JOIN bk USING (vec_id))"""

  /** `Dedup.exact`'s group key: md5 of the normalized text; null/blank
    * texts key by their own id, so they never co-cluster. */
  val exactKey: String =
    s"CASE WHEN length(${normText("text")}) > 0 THEN md5(${normText("text")}) ELSE 'empty:' || doc_id END"

  /** The whitespace split `ws` of the trimmed `text`. */
  val words: String = raw"regexp_split_to_array(trim(text), '\s+')"

  /** The Gopher scalar metrics of `text` and its split `ws`, in
    * text_gopher's columns (the Spark side is `TextQueries.Gopher`). */
  val gopherMetrics: String = {
    val stopwords = TextStats.GopherStopwords.map(w => s"'$w'").mkString("[", ",", "]")
    raw"""len(ws) AS n_words,
          round(length(regexp_replace(trim(text), '\s+', '', 'g')) / CAST(len(ws) AS DOUBLE), 4) AS mean_word_len,
          round(((length(text) - length(replace(text, '#', ''))) + (length(text) - length(replace(text, '...', ''))) / 3 + (length(text) - length(replace(text, '…', '')))) / CAST(len(ws) AS DOUBLE), 4) AS symbol_ratio,
          round(len(list_filter(ws, w -> regexp_matches(w, '\p{L}'))) / CAST(len(ws) AS DOUBLE), 4) AS alpha_word_frac,
          len(list_intersect(list_transform(ws, w -> lower(w)), $stopwords)) AS stop_hits"""
  }

  /** The fused Gopher keep decision over [[gopherMetrics]]' columns. */
  val gopherKeep: String =
    "n_words BETWEEN 10 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0 AND symbol_ratio <= 0.1 AND alpha_word_frac >= 0.8 AND stop_hits >= 1"
}
