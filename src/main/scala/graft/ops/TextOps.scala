package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline over
  * the `documents` table: quality stats, token counting, language ID,
  * document fingerprinting. Everything shuffle-free per row: whole-stage-
  * codegen'd built-ins where they compile to a loop, and a deterministic
  * one-pass Scala kernel where the built-in form would run interpreted
  * (a higher-order `filter` over split words is `CodegenFallback`) or
  * can't express the operator at all.
  */
object TextOps {

  /** Quality scoring: mean word length (×100, integer-exact), stopword
    * hits, alpha ratio — the length/punct/stopword family. */
  val stopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "der", "die", "das", "und", "le", "la", "les", "et", "el", "los", "y")

  /** Append the quality metric columns to ANY frame with `textCol` —
    * reusable by the curation pipeline. `n_words`, `stopword_hits` and
    * `alpha_chars` come from ONE pass of `qualityCounts` (a Scala UDF);
    * they equal, bit for bit, `size(split(trim(text), "\\s+"))`, the
    * count of those words that are (case-sensitively) `stopwords`, and
    * `length(regexp_replace(text, "[^a-zA-Z]", ""))` — the definitions
    * the t3/p1/p2/st1 oracles replay in SQL.
    *
    * The UDF is marked nondeterministic only as an optimizer fence: a
    * filter on these columns (the pipeline's quality gate) would
    * otherwise be pushed below the projection and the UDF inlined once
    * per referenced field — four calls per row, where one suffices. */
  def withQuality(d: DataFrame, textCol: String = "text"): DataFrame = {
    val counts = udf((t: String) => qualityCounts(t)).asNondeterministic()
    d.withColumn("__q", counts(col(textCol)))
      .withColumn("n_words", col("__q._1"))
      .withColumn("stopword_hits", col("__q._2"))
      .withColumn("alpha_chars", col("__q._3"))
      .drop("__q")
      .withColumn("n_chars", length(col(textCol)))
      .withColumn("is_quality",
        (col("n_words") >= 10) && (col("stopword_hits") > 0) &&
        (col("alpha_chars") * 100 >= col("n_chars") * 50))
  }

  /** Java regex `\s` without UNICODE_CHARACTER_CLASS: `[ \t\n\x0B\f\r]`. */
  @inline private[ops] def isRegexSpace(c: Char): Boolean =
    c == ' ' || (c >= '\t' && c <= '\r')

  private val StopSet = stopwords.toSet
  private val StopMaxLen = stopwords.map(_.length).max

  /** (n_words, stopword_hits, alpha_chars) of `t` in one scan; null for
    * null text. Words are the pieces of Spark's `split(trim(t), "\\s+")`:
    * `trim` strips only U+0020, so a leading tab still opens an empty
    * first piece, and every whitespace run inside the trimmed range adds
    * exactly one piece ("" is one piece). Empty pieces never match a
    * stopword; non-empty pieces are the maximal non-`\s` runs. Letters
    * are ASCII only (`[a-zA-Z]`), and none lie in the trimmed spaces. */
  private def qualityCounts(t: String): (Int, Int, Int) = {
    if (t == null) return null
    var s = 0
    var e = t.length
    while (s < e && t.charAt(s) == ' ') s += 1
    while (e > s && t.charAt(e - 1) == ' ') e -= 1
    var words = 1
    var hits = 0
    var alpha = 0
    var i = s
    while (i < e) {
      if (isRegexSpace(t.charAt(i))) {
        words += 1
        while (i < e && isRegexSpace(t.charAt(i))) i += 1
      } else {
        val from = i
        while (i < e && !isRegexSpace(t.charAt(i))) {
          val c = t.charAt(i)
          if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')) alpha += 1
          i += 1
        }
        if (i - from <= StopMaxLen && StopSet.contains(t.substring(from, i)))
          hits += 1
      }
    }
    (words, hits, alpha)
  }

  /** Whitespace + BPE-ish token counting: words plus punctuation clusters
    * counted as separate tokens (regexp-based, deterministic). */
  def tokenCount(d: DataFrame): DataFrame = {
    d.select(
      col("doc_id"),
      size(split(trim(col("text")), "\\s+")).as("ws_tokens"),
      // BPE-ish: alpha runs, digit runs and single punct chars each count
      size(filter(split(col("text"), "(?<=[^a-zA-Z0-9])|(?=[^a-zA-Z0-9])"),
        t => length(t) > 0 && t =!= " ")).as("bpe_tokens"))
  }

  /** N-gram-heuristic language ID over {en, de, fr, es, zh}: CJK presence
    * → zh; otherwise argmax of per-language marker-token hits. A
    * deterministic heuristic (SURVEY-mandated text-analysis op); compared
    * against the corpus `lang` label for an agreement metric. */
  /** Append `predicted_lang` to ANY frame with `textCol` — reusable by
    * the curation pipeline. One `langOf` pass over Spark's `lower(text)`
    * (the lower-casing stays the built-in, so it is Spark's exactly). */
  def withLangId(d: DataFrame, textCol: String = "text"): DataFrame = {
    val lang = udf((t: String) => langOf(t))
    d.withColumn("predicted_lang", lang(lower(col(textCol))))
  }

  private val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "to", "in", "that", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans"),
    "es" -> Seq("el", "los", "las", "es", "un", "una", "que", "por"))
  /** Marker word → bit l set when language l lists it ("un" is both fr
    * and es). */
  private val MarkerLangs: Map[String, Int] = LangMarkers.zipWithIndex
    .flatMap { case ((_, ms), l) => ms.map(_ -> (1 << l)) }
    .groupMapReduce(_._1)(_._2)(_ | _)
  private val MarkerMaxLen = LangMarkers.flatMap(_._2).map(_.length).max

  /** The language of an already lower-cased text `t`: "zh" if any char lies
    * in `[\u4e00-\u9fff]` (no case mapping enters or leaves that block,
    * so testing the lower-cased text ≡ testing the original), else the
    * argmax of marker hits over the maximal non-`\s` runs (≡ the
    * non-empty pieces of `split(t, "\\s+")`), ties resolved
    * en > de > fr > es. Null text scores null everywhere, which the
    * argmax chain has always resolved to "es". */
  private def langOf(t: String): String = {
    if (t == null) return "es"
    val score = new Array[Int](4)
    var i = 0
    val n = t.length
    while (i < n) {
      val c = t.charAt(i)
      if (isRegexSpace(c)) i += 1
      else {
        val from = i
        while (i < n && !isRegexSpace(t.charAt(i))) {
          val ch = t.charAt(i)
          if (ch >= '\u4e00' && ch <= '\u9fff') return "zh"
          i += 1
        }
        val m: Int = if (i - from > MarkerMaxLen) 0
          else MarkerLangs.getOrElse(t.substring(from, i), 0)
        if (m != 0) {
          var l = 0
          while (l < 4) { if ((m & (1 << l)) != 0) score(l) += 1; l += 1 }
        }
      }
    }
    val en = score(0); val de = score(1); val fr = score(2); val es = score(3)
    if (en >= de && en >= fr && en >= es) "en"
    else if (de >= fr && de >= es) "de"
    else if (fr >= es) "fr"
    else "es"
  }

  // ---- PII scrubbing -----------------------------------------------------
  // RE2-safe patterns (no lookarounds, no backrefs): the SAME strings are
  // interpolated into the DuckDB oracle, so Java regex (Spark codegen'd
  // regexp_replace/regexp_count) and RE2 (DuckDB) must agree — they do on
  // this character-class-only subset.
  val EmailRe: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re: String = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
  val PhoneRe: String = "\\+[0-9][0-9-]{6,}[0-9]"

  /** Redact emails, IPv4 addresses and international phone numbers from
    * `textCol`, appending match counts. Order matters and is fixed:
    * emails first (they contain digits and dots), then IPs (dotted
    * digits), then phones (digits/dashes only — cannot overlap the other
    * two's residue). Pure built-ins → narrow, whole-stage codegen, no
    * shuffle: the shape of a 100 TB scrub pass. */
  def withPiiScrub(d: DataFrame, textCol: String = "text"): DataFrame =
    d.withColumn("n_emails", regexp_count(col(textCol), lit(EmailRe)).cast("long"))
      .withColumn("n_ips", regexp_count(col(textCol), lit(Ipv4Re)).cast("long"))
      .withColumn("n_phones", regexp_count(col(textCol), lit(PhoneRe)).cast("long"))
      .withColumn("scrubbed",
        regexp_replace(
          regexp_replace(
            regexp_replace(col(textCol), EmailRe, "[EMAIL]"),
            Ipv4Re, "[IP]"),
          PhoneRe, "[PHONE]"))

  /** The t7 query: the corpus text is synthetic words (no real PII), so a
    * deterministic PII suffix is synthesized from doc_id — same closed-form
    * trick as the markup wrappers — and the oracle rebuilds suffix, counts
    * and redacted text from scratch in SQL. */
  def piiScrub(d: DataFrame): DataFrame = {
    val pii = d.select(col("doc_id"), col("text")).withColumn("pii_text", concat(
      col("text"),
      lit(" contact user"), col("doc_id"), lit("@example.com"),
      when(pmod(col("doc_id"), lit(3)) === 0, lit(" cc admin@example.org")).otherwise(lit("")),
      lit(" call +1-555-"), lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
      lit(" from 10."), pmod(col("doc_id"), lit(256)),
      lit("."), pmod(expr("doc_id div 256"), lit(256)),
      lit("."), pmod(expr("doc_id div 65536"), lit(256))))
    withPiiScrub(pii, "pii_text")
      .select(col("doc_id"), col("scrubbed"),
        col("n_emails"), col("n_phones"), col("n_ips"))
  }

  // ---- URL extraction / normalization -------------------------------------
  // RE2-safe (character classes only) and shared verbatim with the t8
  // oracle, same contract as the PII patterns above.
  val UrlRe: String = "https?://[A-Za-z0-9.-]+[A-Za-z0-9/._?=&%-]*"
  val UrlHostRe: String = "https?://([A-Za-z0-9.-]+)"

  /** Extract + normalize URLs from `textCol`: match count, first URL, and
    * its normalized host (lowercased, leading `www.` stripped — the key a
    * web-corpus pipeline dedups/filters by). Narrow codegen'd regexps, no
    * shuffle — the shape of a 100 TB URL pass. */
  def withUrls(d: DataFrame, textCol: String = "text"): DataFrame =
    d.withColumn("n_urls", regexp_count(col(textCol), lit(UrlRe)).cast("long"))
      .withColumn("first_url", regexp_extract(col(textCol), UrlRe, 0))
      .withColumn("first_host",
        regexp_replace(lower(regexp_extract(col(textCol), UrlHostRe, 1)),
          "^www\\.", ""))

  /** The t8 query: corpus text carries no URLs, so a deterministic URL
    * suffix is synthesized from doc_id (same closed-form trick as t7's
    * PII) — mixed-case host to prove normalization, a second URL on even
    * ids to prove counting. */
  def urlExtract(d: DataFrame): DataFrame = {
    val withText = d.select(col("doc_id"), col("text")).withColumn("url_text", concat(
      col("text"),
      lit(" see https://WWW.Example"), pmod(col("doc_id"), lit(50)),
      lit(".com/p"), col("doc_id"), lit("?x=1"),
      when(pmod(col("doc_id"), lit(2)) === 0,
        concat(lit(" and http://sub.site"), pmod(col("doc_id"), lit(7)), lit(".org")))
        .otherwise(lit(""))))
    withUrls(withText, "url_text")
      .select(col("doc_id"), col("n_urls"), col("first_url"), col("first_host"))
  }

  // ---- repetition signals (Gopher-style quality filters) -------------------

  /** Duplicate-n-gram and vocabulary-diversity signals: the fraction of
    * repeated word trigrams and the distinct-word ratio, in integer
    * per-mille (exactly replicable in SQL — no float division). A
    * boilerplate/template page scores high dup_trigram_permille and low
    * distinct_word_permille; both are standard web-corpus quality-filter
    * inputs. Narrow higher-order array ops, zero shuffles. */
  def withRepetition(d: DataFrame, textCol: String = "text"): DataFrame = {
    val words = filter(split(lower(trim(col(textCol))), "\\s+"), w => length(w) > 0)
    d.withColumn("__w", words)
      .withColumn("__t", when(size(col("__w")) >= 3,
        transform(sequence(lit(1), size(col("__w")) - 2), i =>
          concat_ws(" ", element_at(col("__w"), i),
            element_at(col("__w"), i + 1), element_at(col("__w"), i + 2))))
        .otherwise(array().cast("array<string>")))
      .withColumn("n_words", size(col("__w")).cast("long"))
      .withColumn("n_distinct_words", size(array_distinct(col("__w"))).cast("long"))
      .withColumn("n_trigrams", size(col("__t")).cast("long"))
      .withColumn("n_dup_trigrams",
        (size(col("__t")) - size(array_distinct(col("__t")))).cast("long"))
      .withColumn("distinct_word_permille",
        when(col("n_words") > 0, expr("(1000 * n_distinct_words) div n_words"))
          .otherwise(lit(1000L)))
      .withColumn("dup_trigram_permille",
        when(col("n_trigrams") > 0, expr("(1000 * n_dup_trigrams) div n_trigrams"))
          .otherwise(lit(0L)))
      .drop("__w", "__t")
  }

  /** Rolling-hash document fingerprint (winnowing-style): Rabin-Karp over
    * code-point 16-grams with base-31 mod-P arithmetic (P prime > 2^32 —
    * no native overflow wrap, so the exact same values are computable in
    * integer SQL and the t5 oracle recomputes them from scratch), keeping
    * the k smallest distinct hashes → a compact, order-insensitive sketch
    * for near-dup triage. Deterministic. O(1) state per position (rolling),
    * O(k) memory — whale-safe. */
  def fingerprint(text: String, window: Int = 16, k: Int = 8): Array[Long] = {
    if (text == null) return Array.empty
    val cps = text.codePoints().toArray
    if (cps.length < window) return Array.empty
    val P = 4294967311L // shared with Dedup.HashP
    val B = 31L
    var pow = 1L // B^(window-1) mod P
    var i = 0
    while (i < window - 1) { pow = pow * B % P; i += 1 }
    var h = 0L
    i = 0
    while (i < window) { h = (h * B + cps(i)) % P; i += 1 }
    val heap = new java.util.PriorityQueue[java.lang.Long](k + 1,
      java.util.Collections.reverseOrder[java.lang.Long]())
    def offer(x: Long): Unit = {
      val v = java.lang.Long.valueOf(x)
      if (heap.size < k) { if (!heap.contains(v)) heap.add(v) }
      else if (x < heap.peek() && !heap.contains(v)) { heap.poll(); heap.add(v) }
    }
    offer(h)
    i = window
    while (i < cps.length) {
      // roll: drop cps(i-window), add cps(i); keep everything in [0, P)
      h = ((h + P - cps(i - window) * pow % P) % P * B + cps(i)) % P
      offer(h)
      i += 1
    }
    val out = new Array[Long](heap.size)
    var j = out.length - 1
    while (j >= 0) { out(j) = heap.poll(); j -= 1 }
    out.sorted
  }

  def fingerprints(d: DataFrame): DataFrame = {
    val fpUdf = udf((t: String) => fingerprint(t))
    d.select(col("doc_id"), fpUdf(col("text")).as("fingerprint"))
  }

  /** Corpus-statistics novelty scoring — the integer-exact core of
    * LM-perplexity quality filtering: a document whose character
    * trigrams are rare IN THIS CORPUS is an outlier (boilerplate junk,
    * binary spray, wrong-language stragglers), exactly what perplexity
    * filters catch, but expressed as an out-of-vocabulary rate so every
    * number is an exact integer (no float-summation order to replicate).
    *
    * Output per doc: n_tri (total char trigrams), n_rare (trigrams whose
    * corpus-wide count < minCount), rare_permille (⌊n_rare·1000/n_tri⌋).
    *
    * Scale shape: trigram explode is codegen'd `transform(sequence)` (no
    * UDF); the COMMON-trigram table (count ≥ minCount) is bounded by
    * Σcounts/minCount and broadcasts; per-doc totals are closed-form
    * (length−2), so the whole op is one trigram aggregation + one
    * broadcast-join aggregation over the corpus — two shuffles at any
    * size. The two 100 TB valves are PARAMETERS: raise `minCount` (the
    * common table SHRINKS as the threshold rises), and when it is still
    * too large to broadcast, set `broadcastCommon = false` to let the
    * hits join shuffle instead (a third exchange, bought consciously). */
  def withTrigramNovelty(d: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", minCount: Long = 5L,
      broadcastCommon: Boolean = true): DataFrame = {
    // built with column functions (not interpolated SQL text) so a column
    // name needing backticks — spaces, dots — works like every sibling op
    val t = col(textCol)
    val triArr = when(length(t) >= 3,
      transform(sequence(lit(1), length(t) - 2), i => t.substr(i, lit(3))))
      .otherwise(array().cast("array<string>"))
    val tris = d.select(col(idCol), explode(triArr).as("tri"))
    val common = tris.groupBy(col("tri"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .select(col("tri"))
    val hits = tris
      .join(if (broadcastCommon) broadcast(common) else common, "tri")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_common"))
    d.select(col(idCol),
        greatest(length(col(textCol)) - 2, lit(0)).cast("long").as("n_tri"))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol), col("n_tri"),
        (col("n_tri") - coalesce(col("n_common"), lit(0L))).as("n_rare"),
        when(col("n_tri") === 0, lit(0L)).otherwise(
          expr("(n_tri - coalesce(n_common, 0L)) * 1000 div n_tri"))
          .as("rare_permille"))
  }

  // ---- corpus vocabulary ---------------------------------------------------

  /** Top-k corpus vocabulary with counts — the frequency table that seeds
    * tokenizer training and stopword lists. Deterministic total order
    * (count desc, then token asc) so the top-k SET is unique. Scale shape:
    * explode is narrow, the count is ONE hash aggregate with map-side
    * partials (the explode's output never shuffles raw — only (token,
    * partial-count) pairs do), and the top-k is TakeOrdered (per-partition
    * heaps + a k-row driver merge), never a global sort materialization.
    * At 100 TB the shuffle carries at most |vocab| × partitions rows. */
  def vocabTopK(d: DataFrame, k: Int): DataFrame =
    d.select(explode(split(col("text"), " ")).as("word"))
      .where(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word").asc)
      .limit(k)
}
