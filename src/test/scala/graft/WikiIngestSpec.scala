package graft

import graft.sources.Wiki

class WikiIngestSpec extends SparkSpec {

  test("streaming wiki ingestion dedups re-synced articles across " +
      "dump drops, filters redirects/namespaces, and COUNTS " +
      "malformed pages out") {
    val dumpDir = tmpDir("graft-wiki-stream")
    val corpus = tmpDir("graft-wiki-corpus") + "/c"
    val ckpt = tmpDir("graft-wiki-ckpt")
    def dump(name: String, pages: Seq[String]): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dumpDir, name),
        Wiki.buildDump(pages).getBytes("UTF-8"))
    dump("sync1.xml", Seq(
      Wiki.buildPage("Alpha", 0, "'''alpha''' body"),
      Wiki.buildPage("Beta", 0, "beta body"),
      Wiki.buildPage("Category:Skip", 14, "cat page"),
      Wiki.buildPage("Redir", 0, "#REDIRECT [[Alpha]]",
        redirect = Some("Alpha"))))
    Wiki.wikiIngest(spark, dumpDir, corpus, ckpt).awaitTermination()
    // drop 2: one new article, one unchanged re-sync, one UPDATED
    // revision (same title, new text — must ingest as a new doc),
    // and one malformed page (brace bomb errs NAMED inside extract)
    dump("sync2.xml", Seq(
      Wiki.buildPage("Gamma", 0, "gamma body"),
      Wiki.buildPage("Alpha", 0, "'''alpha''' body"),
      Wiki.buildPage("Beta", 0, "beta body v2"),
      Wiki.buildPage("Bomb", 0, "{{x|" * 200)))
    val q2 = Wiki.wikiIngest(spark, dumpDir, corpus, ckpt)
    q2.awaitTermination()
    val got = spark.read.parquet(corpus).select("text")
      .collect().map(_.getString(0)).toSet
    assert(got == Set("alpha body", "beta body", "gamma body",
      "beta body v2"),
      "re-sync deduped, update ingested, redirect/category filtered")
    val corrupt = q2.recentProgress.toSeq
      .flatMap(p => Option(p.observedMetrics.get("wiki_ingest")))
      .map(_.getAs[Long]("corrupt_rows")).sum
    assert(corrupt == 1L,
      s"the bomb page must count into observed metrics (got $corrupt)")
  }
}
