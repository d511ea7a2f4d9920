package graft.functions

import graft.plans.{BpeCodec, NativeFunctions}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Byte-pair-encoding tokenizer surface for LLM data pipelines
 * (Sennrich et al. 2016, public): distributed merge-pair statistics,
 * a deterministic vocabulary trainer, and a native greedy encoder
 * ([[graft.plans.BpeEncodeExpr]]). Extension beyond the reference
 * surface — the reference is single-table OLAP with no text functions
 * (`parquery/README.md:4-8`); token-aware corpora need the tokenizer
 * trained and applied inside the same engine that filters and dedups.
 *
 * == Scale shape ==
 *
 * Everything corpus-sized happens in ONE map-side-combined counting
 * aggregation: the word-frequency table. Pair statistics and training
 * then run over DISTINCT WORD TYPES weighted by frequency — the
 * standard trainer trick (a 100 TB English crawl has ~10^7..10^8 word
 * types, not 10^13 tokens), so the iterative merge loop never touches
 * the corpus again. The trainer caps the type table at
 * `maxWordTypes` most-frequent types (every production trainer
 * samples; the cap is the deterministic version) and loops on the
 * driver — bounded by `maxWordTypes × maxWordLen`, the same
 * contract-bounded-collect class as the IVF centroid fit. Encoding is
 * a zero-shuffle native projection with the merge list shipped as a
 * literal.
 */
object Bpe {

  /** Whitespace word stream: `lower(trim(text))` split on `\s+`,
    * empty tokens dropped — byte-identical to the oracle's
    * `string_split_regex(lower(trim(text)), '\s+')` + filter. */
  private def words(docs: DataFrame, textCol: String): DataFrame =
    docs.select(
        explode(split(lower(trim(col(textCol))), "\\s+")).as("w"))
      .where(col("w") =!= "")

  /** Word-type frequency table `(w, wf)` — the one corpus-scale pass
    * (partial counts map-side, vocabulary-scale shuffle). */
  def wordFrequencies(docs: DataFrame, textCol: String): DataFrame =
    words(docs, textCol).groupBy(col("w"))
      .agg(count(lit(1)).as("wf"))

  /** Adjacent-symbol pair counts at merge step 0 `(pair, cnt)`, the
    * pair spelled `"a b"` (symbols are whitespace-free, so the space
    * join is unambiguous). Counts every adjacent position — `"aaa"`
    * counts `(a,a)` twice — matching the paper's `get_stats`. Runs
    * over word types weighted by `wf`: vocabulary-scale, not
    * corpus-scale. */
  def pairCounts(docs: DataFrame, textCol: String): DataFrame = {
    val cs = filter(split(col("w"), ""), c => c =!= lit(""))
    wordFrequencies(docs, textCol)
      .where(length(col("w")) >= 2)
      .select(col("wf"), explode(transform(
        sequence(lit(1), size(cs) - 1),
        i => concat(element_at(cs, i), lit(" "), element_at(cs, i + 1))))
        .as("pair"))
      .groupBy(col("pair")).agg(sum(col("wf")).as("cnt"))
  }

  /** Top-`k` step-0 pairs, `(cnt desc, pair asc)` — deterministic
    * through ties; plans as TakeOrderedAndProject. */
  def topPairs(docs: DataFrame, textCol: String, k: Int): DataFrame =
    pairCounts(docs, textCol)
      .orderBy(col("cnt").desc, col("pair").asc).limit(k)

  /** Pair counts AFTER applying an ordered merge list — the trainer's
    * per-iteration recount as a distributed frame, so a training STEP
    * is driver-gate verifiable (`q_bpe_train_step`). Symbols come
    * from the native encoder, i.e. the SAME [[graft.plans.BpeCodec]]
    * application the trainer and encoder use. Vocabulary-scale like
    * [[pairCounts]]; uncapped, so it is also the exact full-vocab
    * check of what [[trainBpe]] computes on the capped type table. */
  def pairCountsWithMerges(docs: DataFrame, textCol: String,
                           merges: Seq[(String, String)]): DataFrame = {
    val syms = NativeFunctions.bpeEncodeNative(col("w"), merges)
    wordFrequencies(docs, textCol)
      .select(col("wf"), syms.as("s"))
      .where(size(col("s")) >= 2)
      .select(col("wf"), explode(transform(
        sequence(lit(1), size(col("s")) - 1),
        i => concat(element_at(col("s"), i), lit(" "),
          element_at(col("s"), i + 1)))).as("pair"))
      .groupBy(col("pair")).agg(sum(col("wf")).as("cnt"))
  }

  /**
   * Deterministic BPE vocabulary trainer: `numMerges` rounds of
   * count-pairs / pick-best / apply over the frequency-weighted word
   * types, ties broken `(cnt desc, left asc, right asc)` so the merge
   * list is a pure function of the data. Stops early when the best
   * pair's count drops below `minPairCount`. Returns
   * `(left, right, cnt)` in rank order; feed straight into
   * [[encode]]. Merge application is [[graft.plans.BpeCodec]] — the
   * same code the encoder runs, so train and encode cannot drift.
   *
   * The type table is capped at the `maxWordTypes` most frequent
   * types (`wf desc, w asc` — deterministic); the collect is bounded
   * by that cap, not the corpus.
   */
  def trainBpe(docs: DataFrame, textCol: String, numMerges: Int,
               maxWordTypes: Int = 100000, minPairCount: Long = 2L)
      : Seq[(String, String, Long)] = {
    require(numMerges >= 0, s"numMerges must be >= 0, got $numMerges")
    require(maxWordTypes >= 1,
      s"maxWordTypes must be >= 1, got $maxWordTypes")
    val collected = wordFrequencies(docs, textCol)
      .orderBy(col("wf").desc, col("w").asc).limit(maxWordTypes)
      .collect()
    trainLoop(collected.map { r =>
      (BpeCodec.codepointSymbols(r.getString(0)), r.getLong(1))
    }, numMerges, minPairCount)
  }

  /** The count/pick/apply driver loop shared by the char-level and
    * byte-level trainers — bounded by the capped type table, ties
    * broken `(cnt desc, left asc, right asc)`. Mutates `types` (the
    * merge applications rewrite its elements in place). */
  private def trainLoop(types: Array[(Array[String], Long)],
                        numMerges: Int, minPairCount: Long)
      : Seq[(String, String, Long)] = {
    val merges = Seq.newBuilder[(String, String, Long)]
    var step = 0
    var continue = true
    while (step < numMerges && continue) {
      val counts = new scala.collection.mutable.HashMap[(String, String),
        Long]()
      types.foreach { case (syms, wf) =>
        var i = 0
        while (i + 1 < syms.length) {
          val key = (syms(i), syms(i + 1))
          counts.update(key, counts.getOrElse(key, 0L) + wf)
          i += 1
        }
      }
      if (counts.isEmpty) continue = false
      else {
        val ((a, b), cnt) = counts.minBy { case ((x, y), c) =>
          (-c, x, y)
        }
        if (cnt < minPairCount) continue = false
        else {
          merges += ((a, b, cnt))
          var t = 0
          while (t < types.length) {
            types(t) = (BpeCodec.applyMerge(types(t)._1, a, b),
              types(t)._2)
            t += 1
          }
          step += 1
        }
      }
    }
    merges.result()
  }

  // ---- byte-level (GPT-2-style) mode ------------------------------------

  /** Pre-token frequency table `(w, wf)` under the GPT-2 regex
    * pre-tokenizer — the byte-level counterpart of
    * [[wordFrequencies]]: raw text (no lower/trim — case and leading
    * spaces are part of the pre-token), same one-corpus-pass shape. */
  def pretokenFrequencies(docs: DataFrame, textCol: String): DataFrame = {
    docs.select(explode(
        NativeFunctions.bpePretokenizeNative(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wf"))
  }

  /**
   * Byte-level BPE trainer: GPT-2 regex pre-tokens, per-UTF-8-byte
   * initial alphabet ([[graft.plans.BpeCodec.byteSymbols]] — no
   * unknown symbols, lossless on any input), then the same
   * deterministic count/pick/apply loop as [[trainBpe]]. Merges
   * returned in rank order; feed straight into [[encodeBytes]] (or
   * [[saveMerges]]/[[loadMerges]] — the artifact format is shared).
   */
  def trainBpeBytes(docs: DataFrame, textCol: String, numMerges: Int,
                    maxWordTypes: Int = 100000, minPairCount: Long = 2L)
      : Seq[(String, String, Long)] = {
    require(numMerges >= 0, s"numMerges must be >= 0, got $numMerges")
    require(maxWordTypes >= 1,
      s"maxWordTypes must be >= 1, got $maxWordTypes")
    val collected = pretokenFrequencies(docs, textCol)
      .orderBy(col("wf").desc, col("w").asc).limit(maxWordTypes)
      .collect()
    trainLoop(collected.map { r =>
      (BpeCodec.byteSymbols(r.getString(0)), r.getLong(1))
    }, numMerges, minPairCount)
  }

  /** Byte-level greedy encode of RAW text (do NOT lower/trim — case
    * and whitespace ride in the symbols) under an ordered merge list
    * → array<string> byte-level subwords. */
  def encodeBytes(text: Column, merges: Seq[(String, String)]): Column =
    NativeFunctions.bpeEncodeBytesNative(text, merges)

  /** Byte-level decode: subword array → original text. Exact inverse
    * of [[encodeBytes]] for ANY merge list (byte-level BPE is
    * lossless); `q_bpe_roundtrip_bytes` proves it over corpus text. */
  def decodeBytes(tokens: Column): Column =
    NativeFunctions.bpeDecodeBytesNative(tokens)

  /** Byte-level encode straight to TOKEN IDS (`array<int>`) under
    * [[vocabBytes]]' deterministic id assignment — the form a trainer
    * consumes. The vocabulary rides as ONE map literal (a single
    * MapType object, not an expression tree — the centroid-literal
    * class), so the lookup stays inside codegen; every emitted symbol
    * is by construction a base-alphabet char or a merge product, so
    * the lookup can never miss. */
  def encodeBytesToIds(text: Column,
                       merges: Seq[(String, String)]): Column = {
    val vocab = vocabBytes(merges).toMap
    transform(encodeBytes(text, merges),
      t => element_at(typedlit(vocab), t))
  }

  /** Greedy encode of (caller-lowered) text under an ordered merge
    * list → array<string> subwords across all whitespace words. */
  def encode(text: Column, merges: Seq[(String, String)]): Column =
    NativeFunctions.bpeEncodeNative(text, merges)

  /** Persist a trained merge list as a tiny parquet table
    * `(rank, left, right, cnt)` — the tokenizer artifact: train once
    * on a sample, [[loadMerges]] + [[encode]] everywhere after (the
    * merge list rides into the plan as a literal, so a persisted
    * tokenizer costs one vocabulary-scale read at plan time). */
  def saveMerges(spark: org.apache.spark.sql.SparkSession,
                 merges: Seq[(String, String, Long)],
                 path: String): Unit = {
    import spark.implicits._
    merges.zipWithIndex
      .map { case ((a, b, cnt), r) => (r, a, b, cnt) }
      .toDF("rank", "left", "right", "cnt")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a [[saveMerges]] artifact back in rank order. The collect is
    * merge-list-sized (vocabulary-scale, the centroid-literal class). */
  def loadMerges(spark: org.apache.spark.sql.SparkSession,
                 path: String): Seq[(String, String)] =
    spark.read.parquet(path).orderBy(col("rank"))
      .select(col("left"), col("right"))
      .collect().toSeq
      .map(r => (r.getString(0), r.getString(1)))

  /** Export a merge list as the standard `merges.txt` interchange
    * format (GPT-2/HuggingFace tokenizers: `#version` header, one
    * space-separated pair per line in rank order) — the artifact
    * other tokenizer tooling reads directly. Driver-side file I/O:
    * the artifact is vocabulary-scale by construction. Symbols never
    * contain a literal space in either mode (whitespace is a word
    * boundary char-level; space maps to `Ġ` byte-level), so the
    * space-delimited format is unambiguous. */
  def saveMergesTxt(merges: Seq[(String, String)], path: String): Unit = {
    val body = ("#version: 0.2" +: merges.map { case (a, b) =>
      require(!a.contains(' ') && !b.contains(' '),
        s"merge symbols must not contain spaces: ('$a', '$b')")
      s"$a $b"
    }).mkString("", "\n", "\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** The deterministic token vocabulary a merge list induces: the
    * byte-level base alphabet (the 256 `bytes_to_unicode` symbols in
    * byte order — ids 0..255, exactly GPT-2's layout) followed by one
    * token per merge in rank order. Duplicate products (the same
    * token reachable via different merge paths) keep their FIRST id. */
  def vocabBytes(merges: Seq[(String, String)]): Seq[(String, Int)] = {
    val base = (0 until 256).map(b =>
      String.valueOf(graft.plans.BpeCodec.byteToUnicode(b)))
    val out = scala.collection.mutable.LinkedHashMap[String, Int]()
    (base ++ merges.map { case (a, b) => a + b }).foreach { t =>
      if (!out.contains(t)) out.put(t, out.size)
    }
    out.toSeq
  }

  /** Export [[vocabBytes]] as the standard `vocab.json` artifact
    * (token → id, the other half of the GPT-2/HF tokenizer pair
    * beside [[saveMergesTxt]]). Driver-side vocabulary-scale I/O. */
  def saveVocabJson(merges: Seq[(String, String)], path: String): Unit = {
    def esc(s: String): String = s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    }
    val body = vocabBytes(merges)
      .map { case (t, i) => s""""${esc(t)}": $i""" }
      .mkString("{", ", ", "}")
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Load a `merges.txt` (ours or any GPT-2/HF-tooling-written one):
    * blank lines and a LEADING `#version` header skipped, line order
    * is rank order. NB: only the version header is comment-like —
    * real GPT-2 merge files contain lines like `# #` (the byte-level
    * `#` symbol merging with itself on code/markdown corpora), so a
    * skip-all-`#`-lines rule would silently drop merges and shift
    * every later rank. Malformed lines are a loud error. */
  def loadMergesTxt(path: String): Seq[(String, String)] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines()
      .map(_.stripLineEnd)
      .zipWithIndex
      .filterNot { case (l, i) =>
        l.isEmpty || (i == 0 && l.startsWith("#version"))
      }
      .map { case (l, _) =>
        val parts = l.split(" ", -1)
        require(parts.length == 2 && parts.forall(_.nonEmpty),
          s"malformed merges.txt line: '$l'")
        (parts(0), parts(1))
      }
      .toVector
    finally src.close()
  }

  /** Fixed demonstration merge list for the driver-gate query — a
    * plausible English prefix (hierarchical: `a+n` then `an+d`) plus
    * a same-symbol merge (`e+e`) to exercise the run-adjacency edge
    * the oracle's own REPLACE replay must get right. */
  val demoMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "in" -> "g", "a" -> "n",
    "an" -> "d", "e" -> "r", "o" -> "r", "o" -> "u", "s" -> "t",
    "e" -> "e", "a" -> "t")

  /** Fixed demonstration BYTE-level merge list for the driver-gate
    * query: hierarchical merges (`a+n`, `an+k`, then `Ġr+ank`), a
    * same-symbol merge (`l+l`), and space-carrying `Ġ` merges — the
    * byte-level signature GPT-2 vocabularies are full of. */
  val demoByteMerges: Seq[(String, String)] = Seq(
    "h" -> "e", "l" -> "l", "Ġ" -> "w", "a" -> "n", "an" -> "k",
    "Ġ" -> "r", "i" -> "t", "'" -> "s", "Ġr" -> "ank")
}
