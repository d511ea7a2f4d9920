package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * LaTeX source → display text — the arXiv-class corpus format: paper
 * sources ship as tar shards of `.tex` files (arXiv's bulk access
 * distributes exactly that), and essentially every science-heavy
 * pretraining mix ingests them. Written from the public TeX/LaTeX
 * syntax rules (TeXbook command/group/math syntax, LaTeX
 * environment and sectioning conventions); the strip chain follows
 * the [[Wiki.extractWikitext]] discipline — linear bounded walks,
 * never backtracking regex over whole documents, crafted nesting
 * errs NAMED.
 *
 * The chain, in order (each step's input is the previous step's
 * output, and the order is load-bearing):
 *
 *  1. **Verbatim protection.** `\begin{verbatim}` /
 *     `\begin{lstlisting}` bodies and `\verb|…|` spans lift out
 *     behind control-char tokens BEFORE anything else runs — their
 *     content is display text (the Markdown-fence precedent) and
 *     must not be re-interpreted as markup. Documented boundary: a
 *     `%` earlier on the line that would comment the `\begin` out
 *     does not disarm protection (the lift happens first).
 *  2. **Comments.** Unescaped `%` drops to end of line (`\%` is the
 *     literal and survives to step 6).
 *  3. **Preamble/postamble.** With `\begin{document}` present, only
 *     the document body is kept (the standard extraction posture:
 *     preamble is configuration, not content); a fragment without it
 *     processes whole.
 *  4. **Environments.** `\begin{name}`/`\end{name}` walk with a
 *     stack, depth-capped — math/float/plumbing environments
 *     (equation, align, figure, table, tabular, tikzpicture,
 *     thebibliography, …) drop WHOLE with nesting; every other
 *     environment unwraps (markers drop, content stays); an
 *     optional `[…]` after `\begin{name}` drops with the marker.
 *  5. **Math.** `$…$`, `$$…$$`, `\(…\)`, `\[…\]` drop (formulae are
 *     not display text); `\$` never opens math; unterminated math
 *     drops to end — the [[Wiki]] unterminated-construct posture.
 *  6. **Commands.** One walk: glyph commands compose (`\ss` → ß,
 *     `\o` → ø, `\ae` → æ, …), accent commands compose over their
 *     base (`\"u` → ü, `\'e` → é, `\c{c}` → ç, both `\"u` and
 *     `\"{u}` forms), escaped specials become literal
 *     (`\%\$\&\#\_\{\}`), `\\` breaks the line, `\href{u}{text}` →
 *     text, `\url{u}` → u, citation/label/graphics/length plumbing
 *     drops WITH its arguments (`\cite`, `\ref`, `\label`,
 *     `\includegraphics`, `\footnote`, `\vspace`, `\newcommand`, …),
 *     and any other command drops its name and `[…]` options while
 *     its `{…}` argument content survives as text — the fallback
 *     that makes `\section{X}`/`\textbf{X}`/`\emph{X}` and unknown
 *     styling wrappers all unwrap to X without a per-name list.
 *     Bare group braces drop; `~` is a space; TeX ligatures compose
 *     (``` `` ``` → “, `''` → ”  is NOT done — both become `"`;
 *     `---` → —, `--` → –).
 *  7. **Line cleanup.** Horizontal runs collapse, lines trim, blank
 *     lines drop, the protected verbatim bodies substitute back raw.
 *
 * Scale shape: extraction is a per-row typed map — shuffle-free,
 * codegen-friendly narrow stage; the ingestion surface composes
 * [[Tar.textShards]] (one task per arXiv shard) with the map. Caps:
 * input length rides [[Pdf.MaxDecodedBytes]]; environment nesting
 * past [[Latex.MaxEnvDepth]] errs NAMED (a crafted bomb quarantines
 * per-row, never OOMs a task).
 *
 * The reference engine (parquery) reads parquet only — this is a
 * training-data-pipeline extension (SURVEY §8).
 */
object Latex {

  private def err(msg: String): Nothing =
    throw new IllegalArgumentException(s"LATEX: $msg")

  /** LaTeX's own default max-group-nesting order of magnitude;
    * deeper in a corpus document is a crafted bomb and errs NAMED. */
  private[graft] val MaxEnvDepth = 64
  private val MaxHrefDepth = 8

  // ---------------------------------------------------------------
  // 1. verbatim protection
  // ---------------------------------------------------------------

  private val Tok = '\u0000'

  /** Lift `\begin{verbatim|lstlisting}` bodies and `\verb?…?` spans
    * behind NUL tokens (input NULs are scrubbed first, so a token
    * can never be forged). Returns the tokenized text and the lifted
    * bodies in token order. */
  private[graft] def protectVerbatim(
      input: String): (String, Vector[String]) = {
    val s = input.replace(Tok.toString, "")
    val out = new java.lang.StringBuilder(s.length)
    val lifted = Vector.newBuilder[String]
    var count = 0
    var i = 0
    val n = s.length
    def token(body: String): Unit = {
      out.append(Tok).append(count).append(Tok)
      lifted += body
      count += 1
    }
    while (i < n) {
      if (s.startsWith("\\begin{verbatim}", i) ||
          s.startsWith("\\begin{lstlisting}", i)) {
        val name = if (s.charAt(i + 7) == 'v') "verbatim" else "lstlisting"
        val bodyStart = i + 8 + name.length
        val end = s.indexOf(s"\\end{$name}", bodyStart)
        val stop = if (end < 0) n else end
        // trim ONE boundary newline each side: the markers sit on
        // their own lines in real sources and those newlines are
        // layout, not content
        var b0 = bodyStart
        var b1 = stop
        if (b0 < b1 && s.charAt(b0) == '\n') b0 += 1
        if (b1 > b0 && s.charAt(b1 - 1) == '\n') b1 -= 1
        token(s.substring(b0, b1))
        i = if (end < 0) n else end + 6 + name.length
      } else if (s.startsWith("\\verb", i) && i + 5 < n &&
          !Character.isLetter(s.charAt(i + 5))) {
        val delim = s.charAt(i + 5)
        val close = s.indexOf(delim, i + 6)
        val stop = if (close < 0) n else close
        token(s.substring(i + 6, stop))
        i = if (close < 0) n else close + 1
      } else {
        out.append(s.charAt(i))
        i += 1
      }
    }
    (out.toString, lifted.result())
  }

  // ---------------------------------------------------------------
  // 2. comments
  // ---------------------------------------------------------------

  /** Unescaped `%` drops to end of line (the newline itself stays —
    * TeX's line-joining refinement is rendering behavior, not
    * extraction's concern). `\%` survives; `\\%` is an escaped
    * backslash then a comment. */
  private[graft] def stripComments(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < n) {
        sb.append(c).append(s.charAt(i + 1))
        i += 2
      } else if (c == '%') {
        val nl = s.indexOf('\n', i)
        i = if (nl < 0) n else nl
      } else {
        sb.append(c)
        i += 1
      }
    }
    sb.toString
  }

  // ---------------------------------------------------------------
  // 3. document body
  // ---------------------------------------------------------------

  private[graft] def documentBody(s: String): String = {
    val b = s.indexOf("\\begin{document}")
    if (b < 0) s
    else {
      val from = b + "\\begin{document}".length
      val e = s.indexOf("\\end{document}", from)
      s.substring(from, if (e < 0) s.length else e)
    }
  }

  // ---------------------------------------------------------------
  // 4. environments
  // ---------------------------------------------------------------

  /** Environments whose WHOLE content is non-display: math blocks,
    * floats (the caption goes with the float — a figure caption
    * without its figure is noise mid-paragraph), tables, graphics
    * and bibliography plumbing. Starred variants match too. */
  private val DropEnvs = Set(
    "equation", "align", "alignat", "eqnarray", "gather", "multline",
    "displaymath", "math", "figure", "table", "tabular", "tabularx",
    "array", "matrix", "pmatrix", "bmatrix", "tikzpicture", "picture",
    "thebibliography", "filecontents", "comment")

  private def envName(raw: String): String = raw.stripSuffix("*")

  /** `\begin{name}`/`\end{name}` walk: drop-set environments drop
    * whole (nesting respected), all others unwrap. Depth past
    * [[MaxEnvDepth]] errs NAMED; an unmatched `\end` is lenient
    * (marker drops); an unterminated drop-env drops to end. */
  private[graft] def stripEnvs(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    val n = s.length
    // each frame: true if this frame OR any enclosing frame drops
    var stack = List.empty[Boolean]
    def dropping = stack.nonEmpty && stack.head
    while (i < n) {
      if (s.startsWith("\\begin{", i)) {
        val close = s.indexOf('}', i + 7)
        if (close < 0 || close - i > 64) {
          // not a well-formed marker: treat as text
          if (!dropping) sb.append(s, i, math.min(i + 7, n))
          i += 7
        } else {
          val name = envName(s.substring(i + 7, close))
          stack ::= (dropping || DropEnvs.contains(name))
          if (stack.length > MaxEnvDepth)
            err(s"environment nesting deeper than $MaxEnvDepth " +
              "(crafted bomb?)")
          i = close + 1
          // an optional [...] after \begin{name} is configuration
          if (!stack.head && i < n && s.charAt(i) == '[') {
            val ob = s.indexOf(']', i)
            if (ob >= 0 && ob - i <= 256) i = ob + 1
          }
        }
      } else if (s.startsWith("\\end{", i)) {
        val close = s.indexOf('}', i + 5)
        if (close < 0 || close - i > 64) {
          if (!dropping) sb.append(s, i, math.min(i + 5, n))
          i += 5
        } else {
          if (stack.nonEmpty) stack = stack.tail
          i = close + 1
        }
      } else {
        if (!dropping) sb.append(s.charAt(i))
        i += 1
      }
    }
    sb.toString
  }

  // ---------------------------------------------------------------
  // 5. math
  // ---------------------------------------------------------------

  /** `$…$` / `$$…$$` / `\(…\)` / `\[…\]` drop; `\$` is the literal
    * and passes through to step 6; unterminated math drops to end. */
  private[graft] def stripMath(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    val n = s.length
    def skipPast(open: Int, close: String): Int = {
      val e = s.indexOf(close, open)
      if (e < 0) n else e + close.length
    }
    while (i < n) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < n) {
        val c2 = s.charAt(i + 1)
        if (c2 == '[') i = skipPast(i + 2, "\\]")
        else if (c2 == '(') i = skipPast(i + 2, "\\)")
        else { sb.append(c).append(c2); i += 2 }
      } else if (c == '$') {
        if (i + 1 < n && s.charAt(i + 1) == '$') i = skipPast(i + 2, "$$")
        else {
          // inline math: closing $ may be escaped inside — scan
          var j = i + 1
          var found = -1
          while (j < n && found < 0) {
            if (s.charAt(j) == '\\' && j + 1 < n) j += 2
            else if (s.charAt(j) == '$') found = j
            else j += 1
          }
          i = if (found < 0) n else found + 1
        }
      } else {
        sb.append(c)
        i += 1
      }
    }
    sb.toString
  }

  // ---------------------------------------------------------------
  // 6. commands
  // ---------------------------------------------------------------

  /** Letter-named glyph commands → composed characters. */
  private val GlyphMap = Map(
    "ss" -> "ß", "o" -> "ø", "O" -> "Ø", "ae" -> "æ", "AE" -> "Æ",
    "aa" -> "å", "AA" -> "Å", "l" -> "ł", "L" -> "Ł", "oe" -> "œ",
    "OE" -> "Œ", "dag" -> "†", "ddag" -> "‡", "P" -> "¶", "S" -> "§",
    "pounds" -> "£", "copyright" -> "©", "dots" -> "…", "ldots" -> "…",
    "textemdash" -> "—", "textendash" -> "–", "textbackslash" -> "\\")

  /** Accent mark → (base char → composed). The common Latin set an
    * article corpus actually carries; an unmapped base passes
    * through unaccented (lenient — better ASCII than quarantine). */
  private val AccentMap: Map[Char, Map[Char, Char]] = Map(
    '"' -> Map('a' -> 'ä', 'e' -> 'ë', 'i' -> 'ï', 'o' -> 'ö',
      'u' -> 'ü', 'y' -> 'ÿ', 'A' -> 'Ä', 'E' -> 'Ë', 'I' -> 'Ï',
      'O' -> 'Ö', 'U' -> 'Ü'),
    '\'' -> Map('a' -> 'á', 'e' -> 'é', 'i' -> 'í', 'o' -> 'ó',
      'u' -> 'ú', 'y' -> 'ý', 'c' -> 'ć', 'n' -> 'ń', 's' -> 'ś',
      'z' -> 'ź', 'A' -> 'Á', 'E' -> 'É', 'I' -> 'Í', 'O' -> 'Ó',
      'U' -> 'Ú'),
    '`' -> Map('a' -> 'à', 'e' -> 'è', 'i' -> 'ì', 'o' -> 'ò',
      'u' -> 'ù', 'A' -> 'À', 'E' -> 'È', 'I' -> 'Ì', 'O' -> 'Ò',
      'U' -> 'Ù'),
    '^' -> Map('a' -> 'â', 'e' -> 'ê', 'i' -> 'î', 'o' -> 'ô',
      'u' -> 'û', 'A' -> 'Â', 'E' -> 'Ê', 'I' -> 'Î', 'O' -> 'Ô',
      'U' -> 'Û'),
    '~' -> Map('a' -> 'ã', 'n' -> 'ñ', 'o' -> 'õ', 'A' -> 'Ã',
      'N' -> 'Ñ', 'O' -> 'Õ'))

  /** Accent commands that are LETTER-named (`\c{c}` → ç, `\v{s}` →
    * š, `\u{g}` → ğ, `\H{o}` → ő, `\k{a}` → ą, `\r{a}` → å,
    * `\b`/`\d`/`\=` pass the base through). */
  private val LetterAccents: Map[String, Map[Char, Char]] = Map(
    "c" -> Map('c' -> 'ç', 'C' -> 'Ç', 's' -> 'ş', 'S' -> 'Ş',
      't' -> 'ţ', 'T' -> 'Ţ'),
    "v" -> Map('c' -> 'č', 'C' -> 'Č', 's' -> 'š', 'S' -> 'Š',
      'z' -> 'ž', 'Z' -> 'Ž', 'r' -> 'ř', 'R' -> 'Ř', 'e' -> 'ě',
      'E' -> 'Ě'),
    "u" -> Map('g' -> 'ğ', 'G' -> 'Ğ', 'a' -> 'ă', 'A' -> 'Ă'),
    "H" -> Map('o' -> 'ő', 'O' -> 'Ő', 'u' -> 'ű', 'U' -> 'Ű'),
    "k" -> Map('a' -> 'ą', 'A' -> 'Ą', 'e' -> 'ę', 'E' -> 'Ę'),
    "r" -> Map('a' -> 'å', 'A' -> 'Å', 'u' -> 'ů', 'U' -> 'Ů'))

  /** Commands whose `{…}` arguments are plumbing, not content: the
    * value is how many braced args drop with the name (preceding
    * `[…]` options always drop). */
  private val DropWithArgs = Map(
    "cite" -> 1, "citep" -> 1, "citet" -> 1, "citeauthor" -> 1,
    "citeyear" -> 1, "ref" -> 1, "eqref" -> 1, "autoref" -> 1,
    "pageref" -> 1, "cref" -> 1, "Cref" -> 1, "label" -> 1,
    "includegraphics" -> 1, "input" -> 1, "include" -> 1,
    "bibliography" -> 1, "bibliographystyle" -> 1, "usepackage" -> 1,
    "documentclass" -> 1, "footnote" -> 1, "footnotemark" -> 0,
    "vspace" -> 1, "hspace" -> 1, "setlength" -> 2, "addtolength" -> 2,
    "newcommand" -> 2, "renewcommand" -> 2, "providecommand" -> 2,
    "newenvironment" -> 3, "def" -> 0, "pagestyle" -> 1,
    "thispagestyle" -> 1, "hypersetup" -> 1, "graphicspath" -> 1,
    "bibitem" -> 1, "index" -> 1, "glossary" -> 1)

  /** Index just past a balanced `{…}` group starting at `open` (which
    * must be `{`), or -1 if `open` is not a group / unterminated.
    * Linear, escape-aware. */
  private def pastGroup(s: String, open: Int): Int = {
    if (open >= s.length || s.charAt(open) != '{') return -1
    var depth = 0
    var i = open
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < n) i += 2
      else {
        if (c == '{') depth += 1
        else if (c == '}') {
          depth -= 1
          if (depth == 0) return i + 1
        }
        i += 1
      }
    }
    -1
  }

  private def skipOpts(s: String, from: Int): Int = {
    var i = from
    while (i < s.length && s.charAt(i) == '[') {
      val e = s.indexOf(']', i)
      if (e < 0 || e - i > 1024) return i
      i = e + 1
    }
    i
  }

  /** The command walk (step 6). `depth` bounds `\href` label
    * re-processing. */
  private[graft] def processCommands(s: String, depth: Int = 0): String = {
    if (depth > MaxHrefDepth) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    val n = s.length
    def groupContent(open: Int): Option[(String, Int)] = {
      val past = pastGroup(s, open)
      if (past < 0) None else Some((s.substring(open + 1, past - 1), past))
    }
    while (i < n) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < n) {
        val c2 = s.charAt(i + 1)
        if (Character.isLetter(c2)) {
          var j = i + 1
          while (j < n && Character.isLetter(s.charAt(j))) j += 1
          val name = s.substring(i + 1, j)
          // a letter-named command eats following horizontal space
          while (j < n && (s.charAt(j) == ' ' || s.charAt(j) == '\t'))
            j += 1
          if (GlyphMap.contains(name)) {
            sb.append(GlyphMap(name))
            i = j
          } else if (LetterAccents.contains(name)) {
            val m = LetterAccents(name)
            if (j < n && s.charAt(j) == '{') groupContent(j) match {
              case Some((g, past)) if g.length == 1 =>
                sb.append(m.getOrElse(g.charAt(0), g.charAt(0)))
                i = past
              case Some((g, past)) => sb.append(g); i = past
              case None => i = j
            } else if (j < n) {
              val b = s.charAt(j)
              sb.append(m.getOrElse(b, b))
              i = j + 1
            } else i = j
          } else if (name == "href") {
            val afterOpts = skipOpts(s, j)
            groupContent(afterOpts) match {
              case Some((_, pastUrl)) =>
                groupContent(pastUrl) match {
                  case Some((label, pastLabel)) =>
                    sb.append(processCommands(label, depth + 1))
                    i = pastLabel
                  case None => i = pastUrl
                }
              case None => i = afterOpts
            }
          } else if (name == "url") {
            groupContent(skipOpts(s, j)) match {
              case Some((u, past)) => sb.append(u); i = past
              case None => i = j
            }
          } else if (DropWithArgs.contains(name)) {
            var k = skipOpts(s, j)
            var args = DropWithArgs(name)
            var ok = true
            while (args > 0 && ok) {
              k = skipOpts(s, k)
              val past = pastGroup(s, k)
              if (past < 0) ok = false else k = past
              args -= 1
            }
            i = k
          } else {
            // unknown / sectioning / styling command: the name and
            // its […] options drop; a following {…} group is left in
            // place — the brace handler below unwraps it, so
            // \section{X} / \textbf{X} / anything-shaped-like-them
            // all yield X
            i = skipOpts(s, j)
          }
        } else {
          // non-letter command characters
          c2 match {
            case '\\' =>
              sb.append('\n')
              i = skipOpts(s, i + 2) // \\[2em] spacing option
            case '%' | '$' | '&' | '#' | '_' | '{' | '}' =>
              sb.append(c2); i += 2
            case ',' | ';' | ':' | '!' | ' ' =>
              sb.append(' '); i += 2
            case '"' | '\'' | '`' | '^' | '~' =>
              val m = AccentMap(c2)
              if (i + 2 < n && s.charAt(i + 2) == '{') {
                groupContent(i + 2) match {
                  case Some((g, past)) if g.length == 1 =>
                    sb.append(m.getOrElse(g.charAt(0), g.charAt(0)))
                    i = past
                  case Some((g, past)) => sb.append(g); i = past
                  case None => i += 2
                }
              } else if (i + 2 < n) {
                val b = s.charAt(i + 2)
                sb.append(m.getOrElse(b, b))
                i += 3
              } else i += 2
            case _ => i += 2 // \- \= \. and friends: drop
          }
        }
      } else if (c == '{' || c == '}') {
        i += 1 // bare group braces: grouping, not content
      } else if (c == '~') {
        sb.append(' '); i += 1
      } else if (c == '-' && s.startsWith("---", i)) {
        sb.append('—'); i += 3
      } else if (c == '-' && s.startsWith("--", i)) {
        sb.append('–'); i += 2
      } else if (c == '`' && i + 1 < n && s.charAt(i + 1) == '`') {
        sb.append('"'); i += 2
      } else if (c == '\'' && i + 1 < n && s.charAt(i + 1) == '\'') {
        sb.append('"'); i += 2
      } else {
        sb.append(c); i += 1
      }
    }
    sb.toString
  }

  // ---------------------------------------------------------------
  // the chain
  // ---------------------------------------------------------------

  /** LaTeX source → display text (the full chain; scaladoc above). */
  def extractLatexText(source: String): String = {
    if (source.length > Pdf.MaxDecodedBytes)
      err(s"source exceeds the ${Pdf.MaxDecodedBytes} byte cap")
    val (tokenized, lifted) = protectVerbatim(source)
    var s = stripComments(tokenized)
    s = documentBody(s)
    s = stripEnvs(s)
    s = stripMath(s)
    s = processCommands(s)
    // trim ONLY horizontal whitespace \u2014 String.trim would also eat
    // the NUL verbatim tokens (every char <= 0x20)
    val cleaned = s.split("\n", -1).iterator
      .map(_.replaceAll("[ \t\u00a0]+", " ")
        .replaceAll("^ +| +$", ""))
      .filter(_.nonEmpty)
      .mkString("\n")
    // substitute the protected verbatim bodies back, raw
    if (lifted.isEmpty) cleaned
    else {
      val out = new java.lang.StringBuilder(cleaned.length)
      var i = 0
      while (i < cleaned.length) {
        val c = cleaned.charAt(i)
        if (c == Tok) {
          val end = cleaned.indexOf(Tok, i + 1)
          val idx = cleaned.substring(i + 1, end).toInt
          out.append(lifted(idx))
          i = end + 1
        } else {
          out.append(c)
          i += 1
        }
      }
      out.toString
    }
  }

  // ---------------------------------------------------------------
  // Spark surface
  // ---------------------------------------------------------------

  /**
   * The arXiv-shard ingestion surface: tar shards (`.tar` /
   * `.tar.gz` / `.tar.zst`, one task per shard — [[Tar.textShards]]
   * geometry) → their `.tex` members → display text, with per-member
   * quarantine: `(shard, member, text, latex_error)`. A member that
   * trips a cap or a crafted bomb errs NAMED into `latex_error`; the
   * shard's other members still extract.
   */
  def documents(spark: SparkSession, pathGlob: String): DataFrame = {
    import spark.implicits._
    Tar.textShards(spark, pathGlob)
      .where(org.apache.spark.sql.functions.col("member")
        .endsWith(".tex"))
      .select("path", "member", "text")
      .as[(String, String, String)]
      .map { case (path, member, tex) =>
        try (path, member, extractLatexText(tex), null: String)
        catch {
          case scala.util.control.NonFatal(e) =>
            (path, member, null: String, Payload.named(e))
        }
      }
      .toDF("path", "member", "text", "latex_error")
  }

  // ---------------------------------------------------------------
  // fixture writer
  // ---------------------------------------------------------------

  /** A full article-shaped document around `title` and `body` —
    * every markup form the chain handles, in one fixture: preamble,
    * comments, sectioning, math (inline + display + environment),
    * floats, lists, verbatim, accents/ligatures/escapes, links, and
    * post-`\end{document}` junk. The q_latex_extract oracle
    * recomputes the expected text from the same inputs. */
  def buildLatex(title: String, body: String, id: Long): String =
    "% fixture preamble comment: $math$ and \\begin{equation} inert\n" +
      "\\documentclass[11pt]{article}\n" +
      "\\usepackage[utf8]{inputenc}\n" +
      "\\title{Dropped With Preamble}\n" +
      "\\begin{document}\n" +
      "\\section{" + title + "}\n" +
      "\\maketitle\n" +
      body + " % trailing comment drops\n" +
      "Energy $E_i = mc^2$ conservation \\[ \\int_0^1 f \\] balance\n" +
      "\\begin{equation}\n  a^2 + b^2 = c^2\n\\end{equation}\n" +
      "M\\\"uller \\& S\\o n --- ``cited'' 100\\% \\#" + id + " fin\n" +
      "\\href{http://ext.test/" + id + "}{ext-label} and " +
      "\\url{http://u.test/" + id + "}\\cite{ref" + id + "}\n" +
      "\\begin{itemize}[leftmargin=2em]\n" +
      "\\item first point\n\\item second point\n\\end{itemize}\n" +
      "\\begin{figure}[h]\\includegraphics{p.png}" +
      "\\caption{dropped with the float}\\end{figure}\n" +
      "\\begin{verbatim}\nraw % not comment $x_" + id + "\n" +
      "\\end{verbatim}\n" +
      "\\end{document}\npostamble junk never extracted\n"
}
