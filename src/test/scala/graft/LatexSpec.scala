package graft

import graft.sources.{Latex, Tar}

class LatexSpec extends SparkSpec {

  test("full fixture round-trips to the analytically expected text") {
    val got = Latex.extractLatexText(
      Latex.buildLatex("Intro Title", "alpha beta gamma", 7L))
    val expected =
      "Intro Title\nalpha beta gamma\n" +
        "Energy conservation balance\n" +
        "Müller & Søn — \"cited\" 100% #7 fin\n" +
        "ext-label and http://u.test/7\n" +
        "first point\nsecond point\n" +
        "raw % not comment $x_7"
    assert(got == expected)
  }

  test("comments: unescaped % drops to EOL, \\% is the literal") {
    assert(Latex.extractLatexText("a \\% kept % gone\nb") ==
      "a % kept\nb")
    // \\% is an escaped backslash (line break) THEN a comment
    assert(Latex.extractLatexText("a \\\\% gone\nb") == "a\nb")
  }

  test("verbatim and \\verb protect their content from every later " +
      "stage; unterminated verbatim runs to end") {
    assert(Latex.extractLatexText(
      "\\begin{verbatim}\n% raw $m$ \\textbf{x}\n\\end{verbatim}") ==
      "% raw $m$ \\textbf{x}")
    assert(Latex.extractLatexText("code \\verb|$a_b%|, done") ==
      "code $a_b%, done")
    assert(Latex.extractLatexText(
      "\\begin{lstlisting}\nint x = 1; // $\n\\end{lstlisting}") ==
      "int x = 1; // $")
    assert(Latex.extractLatexText("\\begin{verbatim}\nno close") ==
      "no close")
  }

  test("math drops: inline, display, bracket forms; \\$ never opens " +
      "math; unterminated math drops to end") {
    assert(Latex.extractLatexText("a $x+y$ b $$z$$ c \\(w\\) d " +
      "\\[v\\] e") == "a b c d e")
    assert(Latex.extractLatexText("price \\$5 and $math$ out") ==
      "price $5 and out")
    assert(Latex.extractLatexText("a $never closed") == "a")
  }

  test("environments: drop-set drops whole with nesting, others " +
      "unwrap, unmatched \\end is lenient") {
    assert(Latex.extractLatexText(
      "a\n\\begin{figure}\n\\begin{tabular}{ll}\nx & y\n" +
        "\\end{tabular}\n\\caption{gone}\n\\end{figure}\nb") == "a\nb")
    assert(Latex.extractLatexText(
      "\\begin{center}\nkept text\n\\end{center}") == "kept text")
    assert(Latex.extractLatexText("a \\end{nothing} b") == "a b")
    // equation* (starred) is still math
    assert(Latex.extractLatexText(
      "u\\begin{equation*}x=1\\end{equation*}v") == "uv")
  }

  test("environment nesting bomb errs NAMED") {
    val bomb = "\\begin{center}" * 100
    val e = intercept[IllegalArgumentException] {
      Latex.extractLatexText(bomb)
    }
    assert(e.getMessage.contains("LATEX") &&
      e.getMessage.contains("nesting"))
  }

  test("oversized source errs NAMED at the decode cap") {
    val e = intercept[IllegalArgumentException] {
      Latex.extractLatexText(
        new String(new Array[Char](graft.sources.Pdf.MaxDecodedBytes + 1)))
    }
    assert(e.getMessage.contains("LATEX") && e.getMessage.contains("cap"))
  }

  test("commands: accents in both forms, glyph space-eating, " +
      "letter-named accents, drop-with-args incl options") {
    assert(Latex.extractLatexText("M\\\"uller and M\\\"{u}ller") ==
      "Müller and Müller")
    assert(Latex.extractLatexText("S\\o ren \\ss{} and \\c{c}a") ==
      "Søren ß and ça")
    assert(Latex.extractLatexText("\\'eclair \\`a la \\~nora") ==
      "éclair à la ñora")
    assert(Latex.extractLatexText("text\\cite[p.~3]{a,b} on") ==
      "text on")
    assert(Latex.extractLatexText(
      "\\newcommand{\\x}{y}base\\footnote{dropped} end") == "base end")
  }

  test("commands: unknown names unwrap their brace group — " +
      "sectioning and styling need no per-name list") {
    assert(Latex.extractLatexText(
      "\\section{Head}\n\\textbf{bold} \\emph{it} \\weirdcmd{kept}") ==
      "Head\nbold it kept")
    assert(Latex.extractLatexText("\\unknowncmd[opt1][opt2] tail") ==
      "tail")
  }

  test("ligatures, line breaks, and nbsp") {
    assert(Latex.extractLatexText("a --- b -- c ``q'' d~e") ==
      "a — b – c \"q\" d e")
    assert(Latex.extractLatexText("one\\\\[2em]two") == "one\ntwo")
  }

  test("preamble and postamble drop when \\begin{document} present; " +
      "fragments process whole") {
    assert(Latex.extractLatexText(
      "\\documentclass{article}\npreamble text\n\\begin{document}\n" +
        "body\n\\end{document}\njunk") == "body")
    assert(Latex.extractLatexText("just a \\textbf{fragment}") ==
      "just a fragment")
  }

  test("Spark surface: tar shards of .tex members extract with " +
      "per-member quarantine, non-tex members filtered") {
    import spark.implicits._
    val dir = tmpDir("graft-latex")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "arxiv0.tar"),
      Tar.buildShard(Seq(
        ("paper1/main.tex",
          "\\begin{document}\\section{One}\nwords\\end{document}"),
        ("paper1/README.md", "not latex"),
        ("paper2/main.tex", "\\begin{center}" * 100))))
    // buildShard routes the FIRST member through a GNU long-name
    // pseudo-entry and appends a deep-path .txt + a binary member —
    // the .tex filter must keep exactly the two tex members
    val rows = Latex.documents(spark, s"$dir/*.tar")
      .orderBy("member")
      .collect()
      .map(r => (r.getString(1), r.getString(2), r.getString(3)))
    assert(rows.length == 2)
    assert(rows(0)._1 == "paper2/main.tex" && rows(0)._2 == null &&
      rows(0)._3.contains("nesting"))
    assert(rows(1)._1.endsWith("paper1/main.tex") &&
      rows(1)._2 == "One\nwords" && rows(1)._3 == null)
  }
}
