package graft

import org.apache.spark.sql.functions._

import graft.functions.Bpe
import graft.plans.{BpeCodec, NativeFunctions}

class BpeSpec extends SparkSpec {
  import spark.implicits._

  /** Python/paper-reference greedy BPE, independently written (no
    * shared code with BpeCodec) — the parity target. */
  private def refEncode(word: String,
                        merges: Seq[(String, String)]): Seq[String] = {
    var syms: List[String] =
      word.codePoints().toArray.map(Character.toString(_)).toList
    for ((a, b) <- merges) {
      val out = scala.collection.mutable.ListBuffer[String]()
      var rest = syms
      while (rest.nonEmpty) rest match {
        case x :: y :: tail if x == a && y == b =>
          out += a + b; rest = tail
        case x :: tail => out += x; rest = tail
        case Nil =>
      }
      syms = out.toList
    }
    syms
  }

  test("BpeCodec.encodeWord matches the reference on edge cases") {
    val m = Seq("a" -> "a", "t" -> "h", "th" -> "e", "aa" -> "aa")
    val lefts = m.map(_._1).toArray
    val rights = m.map(_._2).toArray
    for (w <- Seq("aaaaaa", "aaaaaaa", "ththe", "thethe", "the", "x",
        "", "aath", "athatha")) {
      assert(BpeCodec.encodeWord(w, lefts, rights).toSeq ==
        refEncode(w, m), s"word=$w")
    }
  }

  test("BpeCodec is codepoint-based: astral chars are one symbol") {
    val syms = BpeCodec.codepointSymbols("a😀b")
    assert(syms.toSeq == Seq("a", "😀", "b"))
  }

  test("native encode expr ≡ reference over random words") {
    val rnd = new scala.util.Random(11)
    val alphabet = "abtheing "
    val texts = (0 until 300).map(i => (i.toLong,
      (0 until rnd.nextInt(30)).map(_ =>
        alphabet(rnd.nextInt(alphabet.length))).mkString))
    val got = texts.toDF("id", "text")
      .select(col("id"),
        Bpe.encode(lower(trim(col("text"))), Bpe.demoMerges).as("sub"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    texts.foreach { case (id, text) =>
      val exp = text.trim.toLowerCase.split("\\s+").toSeq
        .filter(_.nonEmpty).flatMap(refEncode(_, Bpe.demoMerges))
      assert(got(id) == exp, s"text='$text'")
    }
  }

  test("oracle REPLACE replay semantics == greedy (the scheme the " +
      "driver's DuckDB oracle uses)") {
    // replay the wrapped-symbol REPLACE chain in plain Scala and
    // compare against BpeCodec — proves the q_bpe_encode oracle's
    // REPLACE nesting implements the paper's merge order exactly
    def sqlReplay(w: String, merges: Seq[(String, String)]): String = {
      var s = " " + BpeCodec.codepointSymbols(w).mkString("  ") + " "
      for ((a, b) <- merges)
        s = s.replace(s" $a  $b ", s" $a$b ")
      s.trim.replace("  ", " ")
    }
    val rnd = new scala.util.Random(13)
    val words = Seq("ababab", "aaaaaa", "ththththt", "thee", "feeee",
      "standing", "") ++ (0 until 2000).map(_ =>
      (0 until rnd.nextInt(14)).map(_ =>
        "abtheing" (rnd.nextInt(8))).mkString)
    val m = Seq("t" -> "h", "th" -> "e", "e" -> "e", "a" -> "a",
      "aa" -> "aa", "i" -> "n", "in" -> "g", "a" -> "n", "an" -> "d")
    words.filter(_.nonEmpty).foreach { w =>
      assert(sqlReplay(w, m) ==
        BpeCodec.encodeWord(w, m.map(_._1).toArray,
          m.map(_._2).toArray).mkString(" "), s"word=$w")
    }
  }

  test("trainBpe learns the classic merges on a toy corpus") {
    // 'low'×5 'lower'×2 'newest'×6 'widest'×3 — the Sennrich running
    // example (without </w> markers). Step-0 best pair: (e,s) with
    // 6+3=9, then (es,t) 9, then (t? ...) — assert the first two
    // merges and that application is consistent.
    val docs = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest"))
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("id", "text")
    val merges = Bpe.trainBpe(docs, "text", numMerges = 4,
      minPairCount = 1L)
    assert(merges.take(2).map(m => (m._1, m._2)) ==
      Seq(("e", "s"), ("es", "t")))
    assert(merges.head._3 == 9L)
    // encode with the learned merges: 'newest' must end in 'est'
    val enc = BpeCodec.encodeWord("newest",
      merges.map(_._1).toArray, merges.map(_._2).toArray)
    assert(enc.contains("est"))
  }

  test("trainBpe is deterministic: tie pairs break lexicographically") {
    val docs = Seq((1L, "ab cd ab cd")).toDF("id", "text")
    // both (a,b) and (c,d) have count 2: (a,b) wins the tie
    val merges = Bpe.trainBpe(docs, "text", numMerges = 1,
      minPairCount = 1L)
    assert(merges.map(m => (m._1, m._2)) == Seq(("a", "b")))
  }

  test("trainBpe minPairCount stops the loop") {
    val docs = Seq((1L, "ab ab cd")).toDF("id", "text")
    val merges = Bpe.trainBpe(docs, "text", numMerges = 10,
      minPairCount = 2L)
    assert(merges.map(m => (m._1, m._2)) == Seq(("a", "b")))
  }

  test("pairCounts counts every adjacent position, frequency-weighted") {
    val docs = Seq((1L, "aaa bb"), (2L, "aaa")).toDF("id", "text")
    val got = Bpe.pairCounts(docs, "text").as[(String, Long)]
      .collect().toMap
    // 'aaa' (wf 2) has (a,a) twice per occurrence = 4; 'bb' has (b,b) 1
    assert(got == Map("a a" -> 4L, "b b" -> 1L))
  }

  test("merges round-trip through save/load; encode is unchanged") {
    val docs = (Seq.fill(5)("low") ++ Seq.fill(6)("newest") ++
      Seq.fill(3)("widest")).zipWithIndex
      .map { case (w, i) => (i.toLong, w) }.toDF("id", "text")
    val trained = Bpe.trainBpe(docs, "text", numMerges = 6,
      minPairCount = 1L)
    val dir = tmpDir("graft-bpe") + "/m"
    Bpe.saveMerges(spark, trained, dir)
    val loaded = Bpe.loadMerges(spark, dir)
    assert(loaded == trained.map(m => (m._1, m._2)))
    val a = docs.select(Bpe.encode(col("text"),
      trained.map(m => (m._1, m._2))).as("s")).collect().map(_.getSeq[String](0))
    val b = docs.select(Bpe.encode(col("text"), loaded).as("s"))
      .collect().map(_.getSeq[String](0))
    assert(a.toSeq == b.toSeq)
  }

  test("pairCountsWithMerges matches an independent recount after a merge") {
    val docs = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest"))
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("id", "text")
    val got = Bpe.pairCountsWithMerges(docs, "text", Seq("e" -> "s"))
      .as[(String, Long)].collect().toMap
    // independent recount: apply the merge by hand over the word types
    val types = Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L,
      "widest" -> 3L)
    val exp = types.toSeq.flatMap { case (w, wf) =>
      val syms = BpeCodec.applyMerge(
        BpeCodec.codepointSymbols(w), "e", "s")
      syms.sliding(2).filter(_.length == 2)
        .map(p => (s"${p(0)} ${p(1)}", wf))
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
    assert(got == exp)
    // the merged symbol shows up as a pair element
    assert(got.keys.exists(_.contains("es")))
  }

  test("topPairs is a TakeOrderedAndProject (never a global sort)") {
    val docs = Seq((1L, "aa bb")).toDF("id", "text")
    val plan = Bpe.topPairs(docs, "text", 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("encode on whitespace-only and empty text yields empty array") {
    val got = Seq((1L, ""), (2L, "   "), (3L, "\t\n"))
      .toDF("id", "text")
      .select(Bpe.encode(lower(trim(col("text"))), Bpe.demoMerges)
        .as("sub"))
      .collect()
    got.foreach(r => assert(r.getSeq[String](0).isEmpty))
  }

  test("bytes_to_unicode is a bijection with the GPT-2 fixed points") {
    val m = BpeCodec.byteToUnicode
    assert(m.toSet.size == 256)                 // injective over bytes
    assert(m(' '.toInt) == 'Ġ')                 // 0x20 -> U+0120
    assert(m('\n'.toInt) == 'Ċ')                // 0x0A -> U+010A
    assert(m('a'.toInt) == 'a' && m('!'.toInt) == '!')
    assert(m(0xFF) == 'ÿ' && m(0xA1) == '¡')
    assert(m.forall(c => !Character.isWhitespace(c)))
  }

  test("gpt2 pretokenize: contractions, space-prefixed runs, ws tail") {
    assert(BpeCodec.pretokenize("hello world, it's rank 42").toSeq ==
      Seq("hello", " world", ",", " it", "'s", " rank", " 42"))
    // trailing whitespace is its own token; interior multi-space runs
    // keep all but the last space (the (?!\S) lookahead)
    assert(BpeCodec.pretokenize("a  b ").toSeq == Seq("a", " ", " b", " "))
    // concatenating pre-tokens reproduces the text (lossless)
    val texts = Seq("hello world, it's rank 42", "a  b ", "x\n\ny",
      "préfixe über 3.14", "")
    texts.foreach(t => assert(BpeCodec.pretokenize(t).mkString == t))
  }

  test("byteSymbols: ASCII maps to itself, multi-byte chars to bytes") {
    assert(BpeCodec.byteSymbols(" it").toSeq == Seq("Ġ", "i", "t"))
    // 'é' is two UTF-8 bytes -> two symbols; lossless, never unknown
    assert(BpeCodec.byteSymbols("é").length == 2)
    assert(BpeCodec.byteSymbols("😀").length == 4)
  }

  test("encodeBytes applies byte-level merges over raw text") {
    val got = Seq((1L, "hello world, it's rank 42")).toDF("id", "text")
      .select(Bpe.encodeBytes(col("text"), Bpe.demoByteMerges).as("sub"))
      .as[Seq[String]].collect().head
    assert(got == Seq("he", "ll", "o", "Ġw", "o", "r", "l", "d", ",",
      "Ġ", "it", "'s", "Ġrank", "Ġ", "4", "2"))
  }

  test("decodeByteSymbols inverts encode on hostile inputs") {
    val cases = Seq("hello world, it's rank 42", "a  b ", "x\n\ty",
      "préfixe über 3.14", "emoji 😀 und 中文", "", "   ",
      "mixed controlbytes")
    cases.foreach { t =>
      val syms = BpeCodec.pretokenize(t)
        .flatMap(BpeCodec.encodePretoken(_,
          Bpe.demoByteMerges.map(_._1).toArray,
          Bpe.demoByteMerges.map(_._2).toArray))
      assert(BpeCodec.decodeByteSymbols(syms.mkString) == t,
        s"round-trip failed for ${t.getBytes("UTF-8").toSeq}")
    }
    // chars outside the byte alphabet pass through, never throw
    assert(BpeCodec.decodeByteSymbols("中") == "中")
  }

  test("decodeBytes column inverts encodeBytes over a DataFrame") {
    val texts = Seq((1L, "It's GPT-2 style: Case, 42 & \n newlines."),
      (2L, "unicode: Ġ literal stays itself? no — it round-trips"))
      .toDF("id", "text")
    val got = texts.select(col("text"),
        Bpe.decodeBytes(Bpe.encodeBytes(col("text"), Bpe.demoByteMerges))
          .as("rt"))
      .where(col("text") =!= col("rt")).count()
    assert(got == 0)
  }

  test("trainBpeBytes learns space-carrying merges; encode round-trips") {
    // 'the' always space-prefixed after the first word: the trainer
    // must learn merges over 'Ġthe' pre-tokens, the byte-level
    // signature the char-level trainer cannot express
    val docs = Seq.fill(8)("the the the the").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val merges = Bpe.trainBpeBytes(docs, "text", numMerges = 4)
    val pairs = merges.map(m => (m._1, m._2))
    // t-h and h-e tie at 32 — left-asc tiebreak picks h-e first; the
    // space-carrying 'Ġ'+'the' merge lands once 'the' is one symbol
    assert(pairs.take(3) == Seq("h" -> "e", "t" -> "he", "Ġ" -> "the"))
    val enc = Seq((1L, "the the")).toDF("id", "text")
      .select(Bpe.encodeBytes(col("text"), pairs).as("sub"))
      .as[Seq[String]].collect().head
    assert(enc == Seq("the", "Ġthe"))
  }

  test("merges.txt round-trips and reads the standard interchange form") {
    val path =
      java.nio.file.Paths.get(tmpDir("graft_merges"), "merges.txt").toString
    val merges = Seq("h" -> "e", "t" -> "he", "Ġ" -> "the")
    Bpe.saveMergesTxt(merges, path)
    assert(Bpe.loadMergesTxt(path) == merges)
    // the on-disk shape IS the GPT-2/HF format: header + "a b" lines
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(path))
    assert(lines.get(0).startsWith("#version"))
    assert(lines.get(1) == "h e" && lines.get(3) == "Ġ the")
    // real GPT-2 merge files contain "# #" lines (the byte-level '#'
    // symbol merging with itself) — only a LEADING #version header is
    // comment-like; a '#'-symbol merge must survive the round-trip
    val hashMerges = Seq("#" -> "#", "##" -> "#", "a" -> "b")
    Bpe.saveMergesTxt(hashMerges, path)
    assert(Bpe.loadMergesTxt(path) == hashMerges)
    // blank lines tolerated; malformed lines are a loud error
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      "#version: 0.2\n\na b\nab c\n".getBytes("UTF-8"))
    assert(Bpe.loadMergesTxt(path) == Seq("a" -> "b", "ab" -> "c"))
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      "a b c\n".getBytes("UTF-8"))
    intercept[IllegalArgumentException] { Bpe.loadMergesTxt(path) }
    intercept[IllegalArgumentException] {
      Bpe.saveMergesTxt(Seq("a b" -> "c"), path)
    }
  }

  test("vocabBytes: GPT-2 base layout, rank-ordered merges, dup-safe") {
    val merges = Seq("h" -> "e", "t" -> "he", "Ġ" -> "the",
      "h" -> "e") // duplicate product keeps its first id
    val vocab = Bpe.vocabBytes(merges).toMap
    assert(vocab.size == 256 + 3)
    // GPT-2's exact base layout: byte b's symbol has id b
    assert(vocab("!") == '!'.toInt && vocab("a") == 'a'.toInt)
    // byte 0x20 (space) maps to symbol Ġ, so Ġ sits at id 32
    assert(vocab("Ġ") == 0x20)
    assert(vocab("he") == 256 && vocab("the") == 257 &&
      vocab("Ġthe") == 258)
    // vocab.json round-trips through a JSON parser (escaping holds)
    val p =
      java.nio.file.Paths.get(tmpDir("graft_vocab"), "vocab.json").toString
    Bpe.saveVocabJson(Seq("\"" -> "\\"), p)
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(p)), "UTF-8")
    assert(txt.contains("\"\\\"\\\\\": 256"))
  }

  test("encodeBytesToIds maps symbols through the vocabBytes layout") {
    val vocab = Bpe.vocabBytes(Bpe.demoByteMerges).toMap
    val got = Seq((1L, "hello it's 42")).toDF("id", "text")
      .select(Bpe.encodeBytesToIds(col("text"), Bpe.demoByteMerges)
        .as("ids")).as[Seq[Int]].collect().head
    val toks = Seq("he", "ll", "o", "Ġ", "it", "'s", "Ġ", "4", "2")
    assert(got == toks.map(vocab))
    // base bytes keep GPT-2's id = byte layout inside the stream
    assert(got(6) == 0x20 && got(7) == '4'.toInt)
  }

  test("Spark char split (the pairCounts path) is codepoint-safe") {
    // split(w, "") must not tear astral-plane characters — DuckDB's
    // string_split(w, '') is codepoint-based, so the Spark side must
    // be too for the q_bpe_pairs oracle to hold on non-BMP text
    val got = Seq(Tuple1("a😀b")).toDF("w")
      .select(split(col("w"), "").as("c")).as[Seq[String]].collect()
    assert(got.head == Seq("a", "😀", "b"))
  }
}
