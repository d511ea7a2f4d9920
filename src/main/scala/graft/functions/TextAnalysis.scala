package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Text-analysis primitives for large-scale training-data pipelines:
 * tokenization, token counting, language ID, quality scoring and document
 * fingerprinting. Everything here is a pure `Column` expression built from
 * `org.apache.spark.sql.functions` — codegen'd, whole-stage-compatible, no
 * UDFs — so a 100 TB corpus pass stays a single narrow map stage with no
 * shuffle and no Python/serialization boundary.
 *
 * Extension beyond the reference surface (SURVEY.md §2.8: parquery has no
 * scalar-function surface at all).
 */
object TextAnalysis {

  /** Whitespace tokens; empty/whitespace-only text → empty array.
    * Robust to edge whitespace of the full `\s` class (tab/newline/CR
    * too, not just ASCII space — a text starting with a tab must not
    * yield an empty first token): split can only ever produce empty
    * tokens at the EDGES, so removing empties ≡ edge-trimming first,
    * for ONE regex pass instead of two (the trim-then-split form
    * doubled every tokenizing query's cost — measured 0.22→0.57 s on
    * q_quality_c4 at sf0.1) and stays fully codegen'd (`array_remove`
    * is not a lambda HOF). Value-equivalent to the oracles'
    * `regexp_replace(text, '^\s+|\s+$', '', 'g')` + split replay. */
  def tokens(text: Column): Column =
    array_remove(split(text, "\\s+"), "")

  /** Number of whitespace-delimited tokens. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /**
   * `(__id, __term, __n)` lower-cased whitespace-token counts per
   * document — the shared explode→groupBy construction behind
   * [[graft.functions.Classify]] and [[graft.operators.Importance]],
   * kept single-sourced with [[tokens]] so a tokenization change cannot
   * silently diverge between operators (the NativeText discipline).
   * Null/empty/whitespace-only text yields no rows. `mapTerm` rewrites
   * each token before counting (e.g. hashing-trick bucketing) — it runs
   * in its own projection because a generator cannot nest inside other
   * expressions.
   */
  private[graft] def docTermCounts(docs: DataFrame, idCol: String,
      textCol: String,
      mapTerm: Column => Column = identity): DataFrame =
    docs.select(col(idCol).as("__id"),
        explode(tokens(lower(col(textCol)))).as("__tok"))
      .select(col("__id"), mapTerm(col("__tok")).as("__term"))
      .groupBy(col("__id"), col("__term"))
      .agg(count(lit(1)).as("__n"))

  /**
   * BPE-ish subword count estimate without a vocab file: word-piece regex
   * splits on case/digit boundaries, then adds a length penalty (long words
   * fragment into more pieces). A deterministic, shuffle-free proxy for
   * tokenizer-based counts.
   */
  def subwordCountEstimate(text: Column): Column = {
    val pieces = size(filter(
      split(text, "[^\\p{L}\\p{N}]+|(?<=\\p{Ll})(?=\\p{Lu})|(?<=\\p{L})(?=\\p{N})|(?<=\\p{N})(?=\\p{L})"),
      p => length(p) > 0))
    // ~1 extra piece per 6 chars of word beyond the first 6
    val lenPenalty = aggregate(tokens(text), lit(0),
      (acc, t) => acc + floor((length(t) - 1) / 6).cast("int"))
    (pieces + lenPenalty).as("subword_count")
  }

  // --- language ID -------------------------------------------------------

  /** Tiny built-in stopword profiles (top function words per language). */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "of", "and", "to", "a", "in", "is", "it", "that",
      "was", "for", "on", "with", "as", "at", "by", "this", "are", "be"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "eine", "zu",
      "den", "von", "mit", "auf", "für", "im", "nicht", "sich", "auch"),
    "fr" -> Seq("le", "la", "les", "de", "des", "et", "est", "un", "une",
      "du", "dans", "que", "qui", "pour", "pas", "sur", "au", "avec"),
    "es" -> Seq("el", "la", "los", "las", "de", "y", "es", "un", "una",
      "del", "en", "que", "no", "por", "con", "para", "se", "su"),
    "zh" -> Seq("的", "是", "在", "了", "和", "有", "我", "不", "这", "他",
      "们", "中", "为", "上", "个", "国", "就", "以", "说"))

  /** Fraction of tokens (with repeats) that are stopwords of `lang`
    * under a caller-supplied profile table (the data-driven form —
    * default table = the compiled-in [[stopwords]]). */
  def stopwordRatio(text: Column, lang: String = "en",
                    profiles: Map[String, Seq[String]] = stopwords)
      : Column = {
    val toks = tokens(lower(text))
    when(size(toks) === 0, lit(0.0)).otherwise(
      size(filter(toks, t =>
        array_contains(typedlit(profiles(lang)), t))).cast("double") /
        size(toks))
  }

  /**
   * N-gram/stopword-heuristic language ID: the language whose stopword
   * profile overlaps the document's token set most, `und` (unknown) when
   * nothing matches. One narrow projection — no shuffle, no model file.
   * Data-driven like [[langIdCharNgram]]'s table form: pass `profiles`
   * (e.g. [[loadStopwordProfiles]] output) to widen or retune the
   * language set without recompiling — the words ride as plan
   * literals. Ties break to the LEXICALLY GREATEST language code at
   * equal hit counts (`greatest` over (hits, lang) structs) for any
   * profile table, so swapping tables never changes tie semantics.
   */
  def langId(text: Column,
             profiles: Map[String, Seq[String]] = stopwords): Column = {
    require(profiles.nonEmpty, "empty stopword-profile table")
    val toks = array_distinct(tokens(lower(text)))
    val scored = profiles.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(size(array_intersect(toks, typedlit(words))).as("hits"),
        lit(lang).as("lang"))
    }
    val best =
      if (scored.size == 1) scored.head else greatest(scored: _*)
    when(best.getField("hits") > 0, best.getField("lang"))
      .otherwise(lit("und"))
  }

  /** Load a stopword-profile table written by
    * [[writeStopwordProfiles]] — `(lang string, words array<string>)`
    * rows, one per language, duplicates rejected. The stopword twin
    * of [[loadNgramProfiles]]: a 6th language (or a retuned word
    * list) is a table swap, not a recompile. Bounded collect — one
    * row per language, KBs. */
  def loadStopwordProfiles(spark: org.apache.spark.sql.SparkSession,
                           path: String): Map[String, Seq[String]] = {
    val rows = spark.read.parquet(path)
      .select(col("lang").cast("string"), col("words"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[String](1))
    require(rows.nonEmpty, s"empty stopword-profile table at $path")
    val dups = rows.groupBy(_._1).collect { case (l, g) if g.length > 1 => l }
    require(dups.isEmpty,
      s"duplicate lang rows in stopword table at $path: " +
        dups.toSeq.sorted.mkString(", "))
    rows.toMap
  }

  /** Persist a stopword-profile table in [[loadStopwordProfiles]]'s
    * layout. */
  def writeStopwordProfiles(spark: org.apache.spark.sql.SparkSession,
                            profiles: Map[String, Seq[String]],
                            path: String): Unit = {
    import spark.implicits._
    profiles.toSeq.sortBy(_._1).toDF("lang", "words")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  // --- quality scoring ---------------------------------------------------

  /** Fraction of characters that are letters. */
  def alphaRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0)).otherwise(
      length(regexp_replace(text, "[^\\p{L}]", "")).cast("double") /
        length(text))

  /** Fraction of characters that are punctuation. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0)).otherwise(
      length(regexp_replace(text, "[^\\p{Punct}]", "")).cast("double") /
        length(text))

  /** Mean token length (0 for empty docs). */
  def meanTokenLength(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) === 0, lit(0.0)).otherwise(
      aggregate(toks, lit(0), (acc, t) => acc + length(t)).cast("double") /
        size(toks))
  }

  /**
   * Composite quality score in [0,1]: length sweet-spot, alphabetic
   * content, low punctuation noise, plausible word lengths, some stopword
   * mass. The shape follows published heuristic-filter recipes (e.g.
   * C4/Gopher-style rules); weights are illustrative, each term is a
   * codegen'd expression.
   */
  def qualityScore(text: Column,
                   profiles: Map[String, Seq[String]] = stopwords)
      : Column = {
    val nTok = tokenCount(text).cast("double")
    val lengthTerm = least(nTok / lit(50.0), lit(1.0))
    val alphaTerm = alphaRatio(text)
    val punctTerm = greatest(lit(0.0), lit(1.0) - punctRatio(text) * 5.0)
    val mtl = meanTokenLength(text)
    val wordLenTerm = when(mtl.between(2.0, 12.0), 1.0).otherwise(0.2)
    val stopTerm =
      least(stopwordRatio(text, "en", profiles) * lit(5.0), lit(1.0))
    round(lengthTerm * 0.25 + alphaTerm * 0.25 + punctTerm * 0.2 +
      wordLenTerm * 0.15 + stopTerm * 0.15, 4)
  }

  // --- C4-style heuristic filter ------------------------------------------

  /**
   * C4-style heuristic filter signals (Raffel et al. 2020, "Exploring
   * the Limits of Transfer Learning" §2.2 — public recipe): word count,
   * mean word length, terminal punctuation, code/boilerplate markers
   * (curly brace, "lorem ipsum"), plus the combined keep decision
   * (word count in [minWords, maxWords], mean word length in [3, 10],
   * no code/boilerplate markers). C4's line-level rules apply at
   * document granularity here; `Dedup.lineDedup` covers the line tier.
   *
   * One narrow codegen'd projection — the decision for 100 TB of text
   * is a single scan with zero shuffles; flags are kept alongside
   * `keep` so downstream audits can see WHY a document was dropped.
   */
  def c4Signals(docs: DataFrame, idCol: String, textCol: String,
                minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val t = col(textCol)
    docs.select(col(idCol),
        tokenCount(t).as("n_words"),
        round(meanTokenLength(t), 4).as("mean_word_len"),
        t.rlike("[.!?]\\s*$").cast("int").as("ends_punct"),
        t.contains("{").cast("int").as("has_brace"),
        lower(t).contains("lorem ipsum").cast("int").as("has_lorem"))
      .withColumn("keep",
        (col("n_words").between(minWords, maxWords) &&
          col("mean_word_len").between(3.0, 10.0) &&
          col("has_brace") === 0 && col("has_lorem") === 0).cast("int"))
  }

  // --- repetition (Gopher-style quality signals) --------------------------

  /**
   * Per-document repetition statistics in the style of the Gopher/
   * MassiveText heuristic filters (Rae et al. 2021, public): the fraction
   * of tokens that are repeats (`dup_word_frac`) and the fraction of all
   * word bigrams taken by the single most frequent bigram
   * (`top_bigram_frac`). High values flag boilerplate / template /
   * keyword-stuffed pages that perplexity filters miss.
   *
   * Scale shape: the bigram histogram is computed DISTRIBUTED — explode
   * to (doc, bigram), `groupBy(doc, bigram)` with map-side partial
   * aggregation, then one `groupBy(doc)` for max/total — rather than a
   * per-row HOF frequency count, which is O(tokens²) per document and
   * blows up on long documents. Two key shuffles, both on (doc[, bigram]),
   * never on text. Docs with fewer than 2 tokens get `top_bigram_frac` 0.
   */
  def repetitionStats(docs: DataFrame, idCol: String,
                      textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    val base = docs.select(col(idCol), toks.as("__toks"))
      .withColumn("__n_tok", size(col("__toks")))
      .withColumn("dup_word_frac",
        when(col("__n_tok") === 0, lit(0.0)).otherwise(
          round(lit(1.0) -
            size(array_distinct(col("__toks"))).cast("double") /
              col("__n_tok"), 4)))
    // bigrams of adjacent tokens (zip tokens with their successor inside
    // the projection — one pass, no self-join); docs with <2 tokens emit none
    val bg = base.select(col(idCol),
      explode(zip_with(
        slice(col("__toks"), lit(1), greatest(col("__n_tok") - 1, lit(0))),
        slice(col("__toks"), lit(2), greatest(col("__n_tok") - 1, lit(0))),
        (a, b) => concat_ws(" ", a, b))).as("__bg"))
    val hist = bg.groupBy(col(idCol), col("__bg"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol))
      .agg(max(col("__c")).as("__mx"), sum(col("__c")).as("__tot"))
    base.select(col(idCol), col("dup_word_frac"))
      .join(hist, Seq(idCol), "left")
      .select(col(idCol), col("dup_word_frac"),
        coalesce(round(col("__mx").cast("double") / col("__tot"), 4),
          lit(0.0)).as("top_bigram_frac"))
  }

  // --- PII redaction ------------------------------------------------------

  /** Email-address regex (pragmatic, not RFC-complete). */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  /** North-American-style phone numbers with separators (optional
    * country-code prefix as a non-capturing group — RE2/Java-portable). */
  val phoneRe =
    "(?:\\+?[0-9]{1,2}[-. ])?\\(?[0-9]{3}\\)?[-. ][0-9]{3}[-. ][0-9]{4}"
  /** IPv4 addresses. */
  val ipRe = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"

  /**
   * Replace emails, phone numbers and IPv4 addresses with typed
   * placeholder tags. A standard pre-training scrub pass; pure
   * codegen'd `regexp_replace` chain — one narrow map, no shuffle.
   */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailRe, "<EMAIL>"),
        phoneRe, "<PHONE>"),
      ipRe, "<IP>")

  /** Count of PII matches (emails + phones + IPs) in the text. */
  def piiCount(text: Column): Column =
    size(regexp_extract_all(text, lit(emailRe), lit(0))) +
      size(regexp_extract_all(text, lit(phoneRe), lit(0))) +
      size(regexp_extract_all(text, lit(ipRe), lit(0)))

  // --- term weighting ----------------------------------------------------

  /**
   * Top-k TF-IDF terms per document (smoothed idf:
   * `ln((N + 1) / (df + 1))`). The corpus-level signal the pure per-row
   * functions above can't give: which terms CHARACTERIZE a document
   * against the whole corpus.
   *
   * Scale shape: one explode to (doc, term); term frequencies via
   * `groupBy(doc, term)` (map-side combined); document frequencies via a
   * second `groupBy(term)` over the already-tiny tf frame; the corpus
   * row count rides along as a broadcast 1-row frame (no driver
   * `.collect()`); idf joins back by term (hash join, vocabulary-sized);
   * top-k per doc is a window over (doc) — rank by the RAW score with a
   * term tiebreak, so the result is deterministic and engine-portable.
   */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 3): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val tf = docs
      .select(col(idCol), explode(tokens(lower(col(textCol)))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("__n"))
    val scored = tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("__score",
        col("tf") * log((col("__n") + 1.0) / (col("df") + 1.0)))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("__score").desc, col("term"))
    scored.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .select(col(idCol), col("term"),
        round(col("__score"), 4).as("score"))
  }

  // --- script detection ---------------------------------------------------

  /** Total Unicode letters in the text (`\p{L}`) — the denominator for
    * script ratios. Codegen'd `regexp_count`, zero shuffle. */
  def letterCount(text: Column): Column =
    regexp_count(text, lit("\\p{L}")).cast("bigint")

  /**
   * LETTERS belonging to one Unicode script (`Latin`, `Cyrillic`,
   * `Han`, `Arabic`, `Hiragana`, …; Java script-class names). Script
   * mix ratios are the multilingual-curation complement of the
   * stopword [[langId]]: language-ID needs words, script detection
   * works on any text and catches mixed-script spam / mojibake (e.g.
   * a "Latin" document that is 40% Cyrillic homoglyphs). Ratios =
   * `scriptLetterCount / letterCount`, all inside one codegen'd
   * projection — a 100 TB scan stays one narrow map stage.
   *
   * Non-letters are stripped BEFORE the script count: `\p{IsArabic}`
   * alone also matches the script's digits/marks/punctuation, which
   * [[letterCount]]'s `\p{L}` denominator excludes — an Arabic-digit
   * string would otherwise score fraction > 1 (or divide by zero).
   * The strip-then-count form stays RE2-replayable (class intersection
   * `[\p{IsX}&&\p{L}]` would not be).
   */
  def scriptLetterCount(text: Column, script: String): Column = {
    require(script.matches("[A-Za-z_]+"), s"bad script name: $script")
    regexp_count(regexp_replace(text, "[^\\p{L}]", ""),
      lit(s"\\p{Is$script}")).cast("bigint")
  }

  // --- HTML text extraction ----------------------------------------------

  /**
   * Crawl-HTML → text extraction (the trafilatura/jusText job class,
   * reduced to its deterministic core): drop `<script>`/`<style>`
   * payloads and comments, turn block-level tags into newlines (so
   * paragraphs don't weld into one token), strip remaining tags,
   * decode the named entities (`&amp;` LAST — decoding it first would
   * double-decode `&amp;lt;`), collapse intra-line whitespace and
   * blank-line runs. A pure codegen'd `regexp_replace` chain — zero
   * shuffle, one narrow map stage over a 100 TB crawl.
   *
   * Deliberately NOT handled here: numeric character references
   * (`&#x2019;`) — decode them with the native
   * [[graft.plans.HtmlEntityDecodeExpr]]
   * (`NativeFunctions.htmlEntitiesNative`), which this portable chain
   * can't express in engine-replayable SQL — plus malformed-markup
   * recovery and text-density boilerplate scoring (the places where
   * real extractors disagree with each other; documented boundary).
   */
  /** The block-level tags both [[extractHtmlText]] (newline
    * substitution) and [[removeBoilerplate]] (block splitting) key on —
    * ONE list, so the two chains segment identically. */
  private val blockTagRe =
    "(?i)</?(?:p|div|br|h[1-6]|li|ul|ol|table|tr|td|th|section|article|header|footer|blockquote|pre)\\b[^>]*>"

  /** Script/style payloads and comments dropped (shared head of the
    * HTML chains — their content is never text). */
  private def stripNonContent(html: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(html,
      "(?is)<script\\b[^>]*>.*?</script\\s*>", " "),
      "(?is)<style\\b[^>]*>.*?</style\\s*>", " "),
      "(?s)<!--.*?-->", " ")

  /** The portable named-entity subset, `&amp;` LAST (decoding it first
    * would double-decode `&amp;lt;`) — shared so every HTML surface
    * decodes identically to what the oracle replays. */
  private def decodeBasicEntities(c: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(regexp_replace(regexp_replace(c,
        "&nbsp;", " "), "&lt;", "<"), "&gt;", ">"),
        "&quot;", "\""), "&#39;|&apos;", "'"), "&amp;", "&")

  /**
   * Markdown → display text: the README/docs-corpus sibling of
   * [[extractHtmlText]] — one codegen'd regexp_replace chain, zero
   * shuffle, RE2-portable so an oracle can replay it. The supported
   * subset is the CommonMark core real documentation uses:
   *
   *  - fenced code blocks keep their CONTENT (fences + info string
   *    dropped) — code is display text in a docs corpus;
   *  - images `![alt](url)` → alt, links `[text](url)` → text
   *    (images FIRST, or the image bang survives as a stray `!`);
   *  - ATX headers lose their `#` markers, setext underlines and
   *    thematic breaks (`---`, `***`) drop as lines;
   *  - blockquote `>` prefixes and list markers (`-`/`*`/`+`/`1.`)
   *    strip at line start;
   *  - emphasis unwraps longest-first (`**` and `__` before `*` and
   *    `_` — the reverse order corrupts bold to stray singles);
   *    inline code spans keep their content;
   *  - blank-line paragraph breaks collapse to one newline,
   *    intra-paragraph line structure is preserved.
   *
   * Boundary (documented, same class as [[extractHtmlText]]'s): this
   * is a display-text transform, not a parser — pathological nesting
   * (emphasis spanning code spans) resolves by chain order, exactly
   * as the oracle replays it.
   */
  def extractMarkdownText(md: Column): Column = {
    var c = md
    // fences first: their content must not be re-interpreted as
    // markers is NOT promised (chain semantics) — but the fence
    // lines themselves always drop
    c = regexp_replace(c, "(?m)^```[^\\n]*$", "")
    c = regexp_replace(c, "(?s)!\\[([^\\]]*)\\]\\([^)]*\\)", "$1")
    c = regexp_replace(c, "(?s)\\[([^\\]]*)\\]\\([^)]*\\)", "$1")
    c = regexp_replace(c, "(?m)^#{1,6}[ \\t]+", "")
    c = regexp_replace(c, "(?m)^(=+|-{3,}|\\*{3,}|_{3,})[ \\t]*$", "")
    c = regexp_replace(c, "(?m)^[ \\t]*[-*+][ \\t]+", "")
    c = regexp_replace(c, "(?m)^[ \\t]*\\d+\\.[ \\t]+", "")
    c = regexp_replace(c, "(?m)^>[ \\t]?", "")
    c = regexp_replace(c, "\\*\\*([^*]+)\\*\\*", "$1")
    c = regexp_replace(c, "__([^_]+)__", "$1")
    c = regexp_replace(c, "\\*([^*\\n]+)\\*", "$1")
    c = regexp_replace(c, "_([^_\\n]+)_", "$1")
    c = regexp_replace(c, "`([^`\\n]+)`", "$1")
    // paragraph breaks → one newline; trim ends (regex, not trim():
    // the [[extractHtmlText]] portability rule)
    regexp_replace(regexp_replace(regexp_replace(c,
      "[ \\t]+\\n", "\n"), "\\n{2,}", "\n"), "^\\s+|\\s+$", "")
  }

  def extractHtmlText(html: Column): Column = {
    val blocks = regexp_replace(stripNonContent(html), blockTagRe, "\n")
    val noTags = regexp_replace(blocks, "(?s)<[^>]*>", " ")
    val decoded = decodeBasicEntities(noTags)
    val squashed = regexp_replace(decoded, "[ \\t\\x0B\\f\\r]+", " ")
    // regex end-trim rather than trim(): trim strips ASCII spaces only
    // and would leave boundary newlines — and this exact chain is what
    // the oracle replays, so every step must be engine-portable RE2
    regexp_replace(regexp_replace(regexp_replace(squashed,
      " ?\\n ?", "\n"), "\\n{2,}", "\n"), "^\\s+|\\s+$", "")
  }

  /**
   * Outlink extraction from raw HTML: every `href` attribute value of
   * an `<a>` tag, in document order — the edge-building step of a
   * crawl's link graph ([[graft.operators.Graph.pageRank]] consumes
   * the edges; frontier discovery consumes the set difference against
   * the seen corpus). One `regexp_extract_all` projection, zero
   * shuffle, RE2-portable so the oracle replays it verbatim. Handles
   * single-/double-/un-quoted attribute values and any attribute
   * order inside the tag; javascript:/mailto:/fragment links are NOT
   * filtered here — that is [[graft.functions.Urls]] policy applied
   * on the exploded edges, one concern per operator.
   *
   * The attribute name is boundary-anchored (whitespace or a closing
   * quote must precede `href`), so `data-href`/`xhref` attributes
   * never shadow the real link; whitespace is the explicit
   * `[\t\n\f\r ]` class, identical in Java regex and RE2 (Java `\s`
   * additionally matches vertical tab — a silent engine divergence).
   * Documented boundary: an attribute VALUE containing the literal
   * text `href=` right after a quote can false-match (full
   * quote-state tracking is beyond one regex; rare in real markup,
   * unlike `data-href`, which is everywhere).
   */
  /** The anchor-open + href-value grammar shared by [[extractLinks]]
    * and [[extractAnchors]] (group 1 = the possibly-quoted value) —
    * ONE constant so the two can never drift on what counts as a
    * link. RE2-portable; the oracle replays it verbatim. */
  private val hrefGrammar: String =
    "<a[\\t\\n\\f\\r ](?:[^>]*?[\\t\\n\\f\\r \"'])?" +
      "href[\\t\\n\\f\\r ]*=[\\t\\n\\f\\r ]*" +
      "(\"[^\"]*\"|'[^']*'|[^\\t\\n\\f\\r >\"']+)"

  def extractLinks(html: Column): Column =
    transform(
      regexp_extract_all(html, lit("(?i)" + hrefGrammar), lit(1)),
      v => regexp_replace(v, "^[\"']|[\"']$", ""))

  /**
   * Anchor pairs `array<struct<url, anchor>>`: each closed `<a
   * href=…>…</a>` yields its link target beside its VISIBLE anchor
   * text (inner tags stripped, whitespace collapsed, trimmed) — the
   * classic relevance signal a link graph wants on its edges (anchor
   * text describes the TARGET page; it powered early web ranking and
   * still labels crawl frontiers). Same href grammar as
   * [[extractLinks]]; two aligned `regexp_extract_all` passes over
   * one pattern zip into structs, all codegen'd — zero shuffle.
   * Documented boundary: an anchor never closed before EOF has no
   * extractable text and is dropped here (extractLinks still sees its
   * href).
   */
  def extractAnchors(html: Column): Column = {
    val pat = lit("(?is)" + hrefGrammar +
      "[^>]*>(.*?)</[aA][\\t\\n\\f\\r ]*>")
    val urls = transform(regexp_extract_all(html, pat, lit(1)),
      v => regexp_replace(v, "^[\"']|[\"']$", ""))
    val texts = transform(regexp_extract_all(html, pat, lit(2)),
      t => trim(regexp_replace(
        regexp_replace(t, "<[^>]*>", " "), "\\s+", " ")))
    zip_with(urls, texts,
      (u, t) => struct(u.as("url"), t.as("anchor")))
  }

  /**
   * Text-density boilerplate removal (the jusText/trafilatura job
   * class, reduced to its deterministic core — Kohlschütter et al.
   * WSDM'10, Pomikálek 2011, public heuristics): segment the page into
   * blocks at the SAME block-level tags [[extractHtmlText]] keys on,
   * score each block by its visible text length and its LINK DENSITY
   * (anchor-text chars / text chars), and keep only content-like
   * blocks — `length ≥ minChars` and `linkChars·100 ≤ length·
   * maxLinkPct`. Navigation bars, "related links" strips and footers
   * are short and link-saturated; article prose is long and link-
   * sparse — the two thresholds separate them without any model.
   * Kept blocks join with newlines and decode the portable entity
   * subset, so the output drops into the same downstream as
   * [[extractHtmlText]].
   *
   * Determinism/replay contract: lengths are counted on the RAW
   * visible text (entities still encoded — both engines count the
   * same chars), and the density threshold is integer percent, so the
   * keep decision never touches floating point. Scale shape: one
   * projection (split + per-block lambdas + join), ZERO shuffle — the
   * per-block work is interpreted higher-order lambdas, but it remains
   * a single narrow map stage over a 100 TB crawl. Anchors that span a
   * block boundary (malformed HTML) count toward neither side's link
   * text — the tag strip still removes them; documented boundary.
   */
  def removeBoilerplate(html: Column, minChars: Int = 25,
                        maxLinkPct: Int = 40): Column = {
    require(minChars >= 0, s"minChars must be >= 0, got $minChars")
    require(maxLinkPct >= 0 && maxLinkPct <= 100,
      s"maxLinkPct must be a percent, got $maxLinkPct")
    def visible(c: Column): Column =
      trim(regexp_replace(regexp_replace(c, "(?s)<[^>]*>", " "),
        "\\s+", " "))
    val blocks = split(stripNonContent(html), blockTagRe)
    val scored = transform(blocks, b => struct(
      visible(b).as("t"),
      visible(concat_ws(" ",
        regexp_extract_all(b, lit("(?is)<a\\b[^>]*>(.*?)</a\\s*>"), lit(1))))
        .as("l")))
    val kept = filter(scored, s =>
      length(s.getField("t")) >= minChars &&
        length(s.getField("l")) * 100 <=
          length(s.getField("t")) * maxLinkPct)
    decodeBasicEntities(
      array_join(transform(kept, s => s.getField("t")), "\n"))
  }

  // --- chunking ----------------------------------------------------------

  /**
   * Token-window chunking: split every document into sliding windows of
   * `size` whitespace tokens advancing by `stride` tokens — the
   * retrieval-side twin of [[graft.operators.Pack]]'s context packing
   * (RAG indexing chunks with overlap `size - stride`; training-window
   * prep uses `stride = size` for disjoint windows). Output is one row
   * per chunk: every input column, plus `chunk_idx` (0-based),
   * `chunk_start` (0-based token offset), `chunk_tokens` (window
   * length; the final window may be shorter) and `chunk_text`. Empty /
   * whitespace-only documents yield no chunks. Chunk count is
   * `1 + ceil(max(n - size, 0) / stride)` — every token is covered,
   * and no chunk starts at-or-past the end.
   *
   * Scale shape: a single generator projection (`explode` over an
   * in-row `sequence`) — ZERO shuffle, whole-stage-codegen on both
   * sides of the generator; chunk ids are (doc, chunk_idx) pairs, so no
   * global ordinal pass is needed. The fan-out factor is ~n/stride
   * rows per doc, decided per-row — a 100 TB corpus chunks in one
   * narrow map stage.
   */
  def chunkByTokens(docs: DataFrame, textCol: String,
                    chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize >= 1, s"chunkSize must be >= 1, got $chunkSize")
    require(stride >= 1, s"stride must be >= 1, got $stride")
    val orig = docs.columns.map(col).toSeq
    val n = size(col("__toks"))
    // 1 + ceil((n - chunkSize)+ / stride); n >= 1 guaranteed by the
    // filter below, so the sequence bound is always >= 0 (Spark's
    // sequence(0, -1) would DESCEND, not return empty)
    val nChunks = (lit(1) + floor(
      (greatest(n - chunkSize, lit(0)) + (stride - 1)) / lit(stride)))
      .cast("int")
    docs
      .select(orig :+ tokens(col(textCol)).as("__toks"): _*)
      .where(size(col("__toks")) > 0)
      .select(orig :+ col("__toks") :+
        explode(sequence(lit(0), nChunks - 1)).as("chunk_idx"): _*)
      .select(orig ++ Seq(
        col("chunk_idx"),
        (col("chunk_idx") * stride).as("chunk_start"),
        least(lit(chunkSize), n - col("chunk_idx") * stride)
          .as("chunk_tokens"),
        concat_ws(" ", slice(col("__toks"),
          col("chunk_idx") * stride + 1, lit(chunkSize))).as("chunk_text")): _*)
  }

  // --- fingerprinting ----------------------------------------------------

  /** Canonical-text hash: lowercase, collapse whitespace, xxhash64. */
  def fingerprint(text: Column): Column =
    xxhash64(lower(regexp_replace(trim(text), "\\s+", " ")))

  /**
   * Winnowing-style rolling-hash fingerprint: min xxhash64 over `k`-word
   * shingles — stable under small edits (cf. Schleimer et al., SIGMOD'03
   * winnowing; public algorithm). Used as a cheap near-dup pre-key.
   *
   * PERF: this HOF form re-tokenizes the document once per shingle
   * (interpreted lambdas re-evaluate captured expressions, no CSE) —
   * fine as a portable reference path, but on a large corpus feed it a
   * native shingle array instead:
   * `array_min(transform(NativeFunctions.shinglesNative(text, k),
   * xxhash64))` — one tokenization pass per row.
   */
  def rollingFingerprint(text: Column, k: Int = 3): Column =
    array_min(transform(Shingles.wordShingles(text, k), s => xxhash64(s)))

  /**
   * Winnowing fingerprint SET (Schleimer–Wilkerson–Aiken, SIGMOD'03 —
   * public algorithm): hash every POSITIONAL `k`-word shingle, then keep
   * the minimum of each sliding window of `window` consecutive shingle
   * hashes, distinct. The winnowing guarantee: any shared word run of
   * `window + k - 1`+ words contributes at least one shared fingerprint,
   * and exact copies produce IDENTICAL fingerprint sets — the document
   * sketch plagiarism-style span matching uses at corpus scale.
   *
   * Zero shuffle: the fingerprint set lives inside the row's
   * projection, and every input column passes through (returns the
   * input plus a `fingerprints` column) — no join-back needed to keep
   * the rest of the row.
   *
   * Computed by the fused native expression
   * ([[graft.plans.WinnowingExpr]], one JVM loop per row), bit-exact
   * with the staged HOF reference NativeExprSpec compares it against.
   */
  def winnowingFingerprints(df: org.apache.spark.sql.DataFrame,
                            textCol: String,
                            k: Int = 3, window: Int = 4)
      : org.apache.spark.sql.DataFrame = {
    require(k >= 1 && window >= 1, "k and window must be >= 1")
    df.select(df.columns.map(col).toSeq :+ graft.plans.NativeFunctions
      .winnowNative(col(textCol), k, window).as("fingerprints"): _*)
  }

  // --- Gopher/MassiveText rule set -----------------------------------------

  /** The eight function words Gopher's "contains at least two of"
    * rule checks (Rae et al. 2021, table A1 — public recipe). */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /**
   * The full Gopher/MassiveText document-quality rule set (Rae et al.
   * 2021, appendix A1.1 — public recipe), as one codegen'd projection:
   * word count bounds, mean-word-length bounds, symbol-to-word ratios
   * (hash and ellipsis), bullet-start / ellipsis-end line fractions,
   * the fraction of words carrying at least one alphabetic character,
   * and the ≥2-of-8 function-word requirement — plus the combined
   * `keep` decision. Complements [[c4Signals]] (the C4 rule family)
   * and [[repetitionStats]] (Gopher's repetition tier, which needs a
   * shuffle for the bigram histogram; everything HERE is shuffle-free).
   *
   * `keep` is computed from the UNROUNDED ratios; the emitted ratio
   * columns are rounded to 4 decimals for engine-portable comparison.
   * One narrow map stage — the 100 TB decision pass reads each
   * document once and shuffles nothing.
   *
   * All nine outputs come from [[graft.plans.GopherSignalsExpr]] — one
   * fused static call per row instead of a projection of interpreted
   * HOF lambdas that re-tokenizes per signal (0.52 s → ~0.1 s for
   * q_gopher_signals at sf0.1). TextAnalysisSpec property-tests it
   * against that HOF form, kept there as the reference, on arbitrary
   * strings.
   */
  def gopherSignals(docs: DataFrame, idCol: String, textCol: String,
                    minWords: Int = 50, maxWords: Int = 100000,
                    functionWords: Seq[String] = gopherStopwords)
      : DataFrame = {
    // REFERENCE equality, deliberately: only the default argument
    // (the gopherStopwords object itself) takes the compiled-in
    // fast path — a caller-supplied list rides the reference-object
    // form even when its CONTENT equals the default, so the
    // data-driven twin (q_gopher_signals_table) genuinely exercises
    // that code path under its identical oracle instead of silently
    // collapsing onto the compiled-in one
    val g =
      if (functionWords eq gopherStopwords)
        graft.plans.NativeFunctions.gopherSignalsNative(
          col(textCol), minWords, maxWords)
      else graft.plans.NativeFunctions.gopherSignalsNative(
        col(textCol), minWords, maxWords, functionWords)
    docs.select(col(idCol), g.as("__g"))
      .select(col(idCol),
        col("__g.n_words").as("n_words"),
        round(col("__g.mean_word_len"), 4).as("mean_word_len"),
        round(col("__g.hash_ratio"), 4).as("hash_ratio"),
        round(col("__g.ellipsis_ratio"), 4).as("ellipsis_ratio"),
        round(col("__g.alpha_word_frac"), 4).as("alpha_word_frac"),
        round(col("__g.bullet_line_frac"), 4).as("bullet_line_frac"),
        round(col("__g.ellipsis_line_frac"), 4)
          .as("ellipsis_line_frac"),
        col("__g.stop_hits").as("stop_hits"),
        col("__g.keep").as("keep"))
  }

  // --- char-ngram language ID ----------------------------------------------

  /** Character-n-gram profiles per language — the top orthographic
    * n-grams of each language's public-corpus frequency profile
    * (Cavnar & Trenkle 1994 method; profile CONTENT curated from
    * published frequency tables for each language, the same
    * build-time-data move as [[graft.plans.PublicSuffixes]]).
    *
    * The grams are VARIABLE-length by design: mostly trigrams for
    * alphabetic scripts (including frequent function words, which are
    * what tops every published profile), and single characters for
    * unsegmented scripts (zh/ja/ko/th have no useful trigram
    * inventory at this profile size — their highest-frequency units
    * ARE single han/kana/hangul/thai glyphs). Each entry is matched as
    * a regex-quoted literal, so any UTF-8 string is safe. 50
    * languages across 18 scripts (round 12 widened 27→50; the 14
    * unique-script additions — Indic, Georgian, Armenian, Ethiopic,
    * Khmer — are unconfusable by construction, and each same-script
    * addition carries grams its neighbors lack: Norwegian "sjon"/"å "
    * vs Danish "tion"-less profile, Serbian's је/ије with Cyrillic ј
    * which ru/uk/bg do not use, Belarusian ў, Persian گ/پ vs Urdu
    * ٹ/ڈ/ے — the confusable pairs are pinned by
    * LangIdAccuracySpec). */
  val charNgramProfiles: Map[String, Seq[String]] = Map(
    // Latin — Germanic
    "en" -> Seq("the", "and", "ing", "ion", "tio", "for", "tha", "ent"),
    "de" -> Seq("der", "sch", "ich", "nde", "die", "und", "cht", "ein"),
    "nl" -> Seq("een", "het", "van", "aar", "oor", "ijk", "nie", "gen"),
    "sv" -> Seq("och", "att", "det", "som", "för", "ill", "är", "ning"),
    "da" -> Seq("det", "der", "og ", "til", "ikke", "ede", "ern", "kke"),
    "no" -> Seq("og ", "det", "som", "ikke", "sjon", "jeg", "å ", "på "),
    "is" -> Seq("að ", "það", "ið ", "ur ", "inn", "ekki", "og ", "um "),
    // Latin — Romance
    "fr" -> Seq("les", "que", "ait", "eur", "ons", "dans", "est", "une"),
    "es" -> Seq("los", "ción", "ado", "nte", "una", "ara", "por", "del"),
    "pt" -> Seq("ção", "não", "uma", "ente", "os ", "com", "par", "dos"),
    "it" -> Seq("che", "per", "della", "zione", "gli", "con", "una", "ato"),
    "ro" -> Seq("ește", "ului", "și", "care", "pentru", "din", "ate", "ori"),
    "ca" -> Seq("que", "els", "amb", "dels", "aquest", "també", "ció", "molt"),
    // Latin — Slavic/Uralic/Turkic/other
    "pl" -> Seq("nie", "się", "prze", "ych", "ego", "owa", "rza", "czy"),
    "cs" -> Seq("ění", "ové", "ých", "pro", "ost", "sou", "ř", "ku "),
    "hu" -> Seq("egy", "nek", "meg", "hogy", "szer", "ság", "ett", "nak"),
    "fi" -> Seq("en ", "ssä", "sta", "ist", "äin", "lla", "itt", "ksi"),
    "tr" -> Seq("lar", "ler", "bir", "için", "dır", "ında", "yor", "mak"),
    "id" -> Seq("ang", "yang", "kan", "dan", "ber", "men", "nya", "ada"),
    "vi" -> Seq("của", "được", "không", "người", "ược", "một", "và", "ông"),
    // Latin — Baltic/Finnic/Slavic additions (round 12)
    "et" -> Seq("ja ", "on ", "kui", "ud ", "mis", "ning", "oli", "sed"),
    "lt" -> Seq("ir ", "kad", "yra", "tai", "mas", "ių ", "ės ", "uose"),
    "lv" -> Seq("un ", "ir ", "ar ", "kas", "iem", "ām ", "tā ", "arī"),
    "sk" -> Seq("som", "nie", "ie ", "ať ", "ľ", "ô", "ia ", "pre"),
    "sl" -> Seq("je ", "in ", "da ", "ki ", "anje", "tudi", "lahko", "smo"),
    "hr" -> Seq("ije", "koji", "da ", "su ", "nja", "ći ", "ima", "ako"),
    // Cyrillic
    "ru" -> Seq("ого", "ени", "ост", "ств", "ать", "это", "при", "что"),
    "uk" -> Seq("ння", "ого", "від", "ість", "ува", "ють", "ськ", "не "),
    "bg" -> Seq("на ", "та ", "ът ", "ите", "да ", "се ", "ото", "ват"),
    "sr" -> Seq("је ", "ије", "ња ", "ћи ", "да ", "се ", "ским", "има"),
    "be" -> Seq("ў", "і ", "на ", "ыя ", "ага", "ада", "не ", "ццё"),
    // Greek / RTL / Indic
    "el" -> Seq("και", "την", "της", "ται", "ους", "που", "των", "ική"),
    "ar" -> Seq("الم", "ين", "ات", "من", "ها", "ال", "لى", "في"),
    "he" -> Seq("את", "של", "ים", "ות", "הם", "על", "לא", "יה"),
    // fa/ur share the Arabic script but not these letters: گ پ چ ژ are
    // Persian-only; ٹ ڈ ڑ and the bari-ye ے are Urdu-only; Persian
    // yeh ی (U+06CC) differs from Arabic yeh ي (U+064A) at the
    // codepoint level, so ar's ین-family grams never fire on fa text
    "fa" -> Seq("که ", "است", "های", "می ", "این", "با ", "گ", "پ"),
    "ur" -> Seq("ے ", "ہے", "کے", "میں", "اور", "ٹ", "ڈ", "ھا"),
    "hi" -> Seq("है", "की", "के", "में", "का", "से", "ने", "और"),
    // unique-script additions (round 12): the script IS the signature
    "bn" -> Seq("ের", "য়ে", "কে", "না", "তা", "রা", "বে", "ছে"),
    "ta" -> Seq("கள்", "த்த", "ும்", "ல்", "ன்", "க்க", "ங்க", "ார்"),
    "te" -> Seq("ను", "లు", "కు", "ది", "గా", "ంది", "న్న", "రు"),
    "ml" -> Seq("ിൽ", "ന്ന", "ും", "ുക", "ത്ത", "ക്ക", "ങ്ങ", "യി"),
    "kn" -> Seq("ಗಳ", "ನ್ನ", "ದೆ", "ಲ್ಲ", "ಕ್ಕ", "ರು", "ದಲ್ಲಿ", "ಿದ"),
    "ka" -> Seq("ის ", "და ", "ება", "რომ", "ელი", "ში ", "იყო", "ული"),
    "hy" -> Seq("ում", "է ", "և ", "ներ", "յուն", "ական", "որ ", "ին "),
    "am" -> Seq("ነው", "የ", "ና", "ው ", "ላይ", "ስለ", "እን", "በት"),
    "km" -> Seq("ការ", "នេះ", "របស់", "និង", "ដែល", "បាន", "នៅ", "ទៅ"),
    // Unsegmented scripts (single-glyph profiles — see Scaladoc)
    "zh" -> Seq("的", "是", "一", "了", "在", "人", "有", "我"),
    "ja" -> Seq("の", "に", "は", "を", "た", "です", "して", "ます"),
    "ko" -> Seq("의", "이", "다", "는", "을", "하", "에", "고"),
    "th" -> Seq("การ", "ที่", "ของ", "และ", "ใน", "ไม่", "ได้", "มี"))

  /**
   * Character-n-gram language ID (Cavnar & Trenkle 1994 class): score
   * per language = total NON-OVERLAPPING occurrences of its profile
   * n-grams in the lowercased text; winner = highest score (ties break
   * to the lexicographically LARGEST language code — the same
   * `greatest(struct(score, lang))` convention as [[langId]]), `und`
   * when no profile matches at all. Works where the word-based
   * [[langId]] can't: unsegmented scripts (zh/ja/th have no word
   * boundaries for a stopword tokenizer to find) and very short texts.
   * One codegen'd projection — zero shuffle, no model file.
   */
  def langIdCharNgram(text: Column): Column =
    langIdCharNgram(text, charNgramProfiles)

  /** [[langIdCharNgram]] against a caller-supplied profile table —
    * the HOF reference for data-driven profiles
    * ([[loadNgramProfiles]]); the native path's equivalent is
    * `NativeFunctions.langIdNgramNative(text, profiles)`. */
  def langIdCharNgram(text: Column,
                      profiles: Map[String, Seq[String]]): Column = {
    require(profiles.nonEmpty, "empty language-profile table")
    val lowered = lower(text)
    // non-overlapping occurrence count via replace-and-measure:
    // (len - len(remove(gram))) / len(gram). Identical semantics to
    // regexp_count on a quoted literal, but plain string ops — ~220
    // regex compiles per row was enough to push the generated code
    // past Janino's method limits (whole-stage codegen fell back to
    // interpreted); replace stays comfortably codegen'd
    def count(g: String): Column =
      ((length(lowered) - length(replace(lowered, lit(g), lit("")))) /
        lit(g.length)).cast("int")
    val scored = profiles.toSeq.map { case (lang, grams) =>
      struct(grams.map(count).reduce(_ + _).as("hits"),
        lit(lang).as("lang"))
    }
    if (scored.size == 1) {
      val only = scored.head
      return when(only.getField("hits") > 0, only.getField("lang"))
        .otherwise(lit("und"))
    }
    val best = greatest(scored: _*)
    when(best.getField("hits") > 0, best.getField("lang"))
      .otherwise(lit("und"))
  }

  /**
   * Load a language-profile table from a parquet table of
   * `(lang string, grams array<string>)` rows — the data-driven path
   * for [[langIdCharNgram]] /
   * `NativeFunctions.langIdNgramNative(text, profiles)`: swapping to a
   * wider breadth (fastText's ~170 languages) or a domain-tuned gram
   * set is a TABLE swap, not a recompile. The collect is bounded by
   * construction — one row per language, KBs (the centroid-table
   * class). Duplicated `lang` rows are rejected rather than silently
   * last-wins. [[writeNgramProfiles]] round-trips the compiled-in
   * default into this layout.
   */
  def loadNgramProfiles(spark: org.apache.spark.sql.SparkSession,
                        path: String): Map[String, Seq[String]] = {
    val rows = spark.read.parquet(path)
      .select(col("lang").cast("string"), col("grams"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[String](1))
    require(rows.nonEmpty, s"empty language-profile table at $path")
    val dups = rows.groupBy(_._1).collect { case (l, g) if g.length > 1 => l }
    require(dups.isEmpty,
      s"duplicate lang rows in profile table at $path: " +
        dups.toSeq.sorted.mkString(", "))
    rows.toMap
  }

  /** Persist a profile table in [[loadNgramProfiles]]'s layout. */
  def writeNgramProfiles(spark: org.apache.spark.sql.SparkSession,
                         profiles: Map[String, Seq[String]],
                         path: String): Unit = {
    import spark.implicits._
    profiles.toSeq.sortBy(_._1).toDF("lang", "grams")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  // --- dedup-key normalization ---------------------------------------------

  /**
   * Aggressive text normalization for dedup keys (the CCNet
   * normalization, Wenzek et al. 2020 §4.1 — public recipe): lowercase,
   * digits → `0` (so "page 3 of 7" and "page 4 of 9" collide), strip
   * punctuation and symbols, collapse whitespace runs, trim. Hash THIS,
   * not the raw text, before exact dedup — trivially-reformatted copies
   * (case, punctuation, numbering) then collapse to one key. Pure
   * codegen'd `regexp_replace` chain, zero shuffle, RE2-portable
   * classes so the oracle can replay it verbatim.
   */
  def normalizeForDedup(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        regexp_replace(lower(text), "\\p{Nd}", "0"),
        "[\\p{P}\\p{S}]", ""),
      "\\s+", " "))

  /**
   * [[normalizeForDedup]] with ACCENT FOLDING in front (the full CCNet
   * recipe): NFD-decompose (native [[graft.plans.UnicodeNormalizeExpr]]),
   * strip the combining marks (`\p{M}`), then the digit/punct/whitespace
   * chain.
   * "Café", "Cafe" + COMBINING ACUTE, and "CAFE" all collapse to one
   * key — reformatted-AND-deaccented copies are the rule in scraped
   * duplicates of non-English text. Kept separate from
   * [[normalizeForDedup]] because folding is lossy across languages
   * (e.g. German ü→u merges distinct words); choose per corpus.
   */
  def normalizeForDedupFolded(text: Column): Column =
    normalizeForDedup(regexp_replace(
      graft.plans.NativeFunctions.unicodeNormalize(text, "NFD"),
      "\\p{M}", ""))
}

/** Word-shingle helper shared by TextAnalysis and Dedup. */
object Shingles {

  /**
   * `k`-word shingles ("n-grams of words") of the document, distinct.
   * Documents shorter than `k` words yield one shingle with all words.
   * Pure higher-order-function expression — no explode, no shuffle: the
   * shingle array lives only inside the projection.
   */
  def wordShingles(text: Column, k: Int): Column = {
    val toks = TextAnalysis.tokens(text)
    array_distinct(transform(
      sequence(lit(0), greatest(size(toks) - k, lit(0))),
      i => concat_ws(" ", slice(toks, i + lit(1), lit(k)))))
  }

  /** Character `k`-gram shingles of normalized text, distinct. */
  def charShingles(text: Column, k: Int): Column = {
    val norm = lower(regexp_replace(trim(text), "\\s+", " "))
    array_distinct(transform(
      sequence(lit(0), greatest(length(norm) - k, lit(0))),
      i => norm.substr(i + lit(1), lit(k))))
  }
}
