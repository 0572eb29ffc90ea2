package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the [[Materializer]] seam: the default strategy reproduces
  * the lazy localCheckpoint behavior, and swapping in
  * [[Materializer.PersistedTable]] (the cluster deployment move)
  * changes WHERE reuse points live — real parquet tables on disk —
  * without changing a single output row. */
class MaterializerSpec extends SparkSuite {

  import spark.implicits._

  private val docs = Seq(
    (1L, "good clean prose text here", "A", true),
    (2L, "good clean prose text here", "A", true),
    (3L, "spam junk spam junk buy buy", "A", false),
    (4L, "good prose text words here again", "B", true),
    (5L, "good clean text words prose print", "B", true)
  ).toDF("doc_id", "text", "source", "is_en")

  test("PersistedTable strategy: identical results, reuse points " +
    "written as parquet tables named by their site") {
    val base = graft.llm.Curate
      .pipeline(docs, "doc_id", "text", "source", "is_en")
      .orderBy("doc_id").collect().toSeq
    val lmBase = graft.llm.LangModel
      .unigramNll(docs, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    val dir = java.nio.file.Files
      .createTempDirectory("graft_materializer").toString
    Materializer.set(Materializer.PersistedTable(dir))
    try {
      val got = graft.llm.Curate
        .pipeline(docs, "doc_id", "text", "source", "is_en")
        .orderBy("doc_id").collect().toSeq
      assert(got === base)
      val lmGot = graft.llm.LangModel
        .unigramNll(docs, "doc_id", "text")
        .orderBy("doc_id").collect().toSeq
      assert(lmGot === lmBase)
      // the reuse points are now inspectable tables under their sites
      for (site <- Seq("curate_dedup_survivors", "classifier_tf",
          "langmodel_unigram_tf"))
        assert(new java.io.File(s"$dir/$site").isDirectory,
          s"missing persisted reuse table $site")
      // and they are REAL parquet: readable back with rows
      assert(spark.read.parquet(s"$dir/curate_dedup_survivors")
        .count() > 0)
    } finally {
      Materializer.reset()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("PersistedTable covers every reuse site: each library entry " +
    "point keeps its rows and writes a table per site") {
    def sentence(seed: Int): String = {
      val rnd = new scala.util.Random(seed)
      Seq.fill(30)(s"w${rnd.nextInt(400)}").mkString(" ")
    }
    // docs i and i+12 share a sentence (near-dups); every doc shares
    // one boilerplate line
    val corpus = (1L to 30L).map(i =>
      (i, s"${sentence((i % 12).toInt)} tail$i. all rights reserved"))
      .toDF("doc_id", "text")
    val batch = corpus.filter(col("doc_id") <= 3)
      .select((col("doc_id") + 100).as("doc_id"), col("text"))
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 1L))
      .toDF("src", "dst")
    val vecs = Seq((1L, Seq(1.0, 0.0, 0.0)), (2L, Seq(1.0, 0.0, 0.01)),
      (3L, Seq(0.0, 1.0, 0.0))).toDF("vec_id", "embedding")
    import graft.llm.{Dedup, Dsir, LineDedup, Phrases, Similarity}
    import graft.graph.{PageRank, Triangles}
    val entries = Seq[(String, () => DataFrame)](
      "ngramJaccard" -> (() => Dedup.ngramJaccard(
        Seq((1L, 13L), (2L, 5L)).toDF("id_a", "id_b"), corpus,
        "doc_id", "text")),
      "nearDuplicates" -> (() =>
        Dedup.nearDuplicates(corpus, "doc_id", "text", threshold = 0.7)),
      "nearDuplicates prefilter" -> (() =>
        Dedup.nearDuplicates(corpus, "doc_id", "text", threshold = 0.7,
          prefilterMargin = Some(0.15))),
      "nearDuplicatesAgainstCatalog" -> (() =>
        Dedup.nearDuplicatesAgainstCatalog(batch, "doc_id", "text",
          Dedup.signatureCatalog(corpus, "doc_id", "text"), corpus,
          threshold = 0.7)),
      "importanceScores" -> (() => Dsir.importanceScores(corpus,
        corpus.filter(col("doc_id") < 10), "doc_id", "text", 256)),
      "importanceScoresSubset" -> (() => Dsir.importanceScoresSubset(
        corpus, col("doc_id") < 10, "doc_id", "text", 256)),
      "pmiBigrams" -> (() =>
        Phrases.pmiBigrams(corpus, "doc_id", "text", minCount = 2)),
      "dropSharedLines" -> (() =>
        LineDedup.dropSharedLines(corpus, "doc_id", "text")),
      "Triangles.count" -> (() => Triangles.count(edges)),
      "PageRank.run" -> (() => PageRank.run(edges)),
      "semanticDedup" -> (() =>
        Similarity.semanticDedup(vecs, threshold = 0.999, nCentroids = 2)))
    def rows(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    val base = entries.map { case (name, run) => name -> rows(run()) }
    for (name <- Seq("nearDuplicates", "nearDuplicates prefilter",
        "nearDuplicatesAgainstCatalog", "pmiBigrams"))
      assert(base.toMap.apply(name).nonEmpty, s"$name: empty fixture output")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_materializer_sites").toString
    Materializer.set(Materializer.PersistedTable(dir))
    try {
      for (((name, run), (_, expect)) <- entries.zip(base))
        assert(rows(run()) === expect, s"$name changed under PersistedTable")
      for (site <- Seq("ngram_jaccard_shingles", "near_dup_pairs",
          "near_dup_signatures", "catalog_dedup_batch_shingles",
          "catalog_dedup_candidates", "dsir_bucket_counts",
          "dsir_subset_bucket_counts", "phrases_unigrams",
          "line_dedup_lines", "triangles_undirected", "triangles_oriented",
          "pagerank_edges", "pagerank_nodes", "pagerank_outdeg",
          "pagerank_deg_edges", "semdedup_assigned"))
        assert(new java.io.File(s"$dir/$site").isDirectory,
          s"missing persisted reuse table $site")
    } finally {
      Materializer.reset()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("PersistedTable: two invocations of the SAME site keep " +
    "distinct tables — no silent overwrite across branches") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_materializer3").toString
    // branch B sees a DIFFERENT corpus (docs 1-3 only), so its tf
    // table differs from branch A's — serving B's table to A would
    // change A's NLL VALUES, which the row-level compare catches
    val docsB = docs.filter(col("doc_id") <= 3)
    val expectA = graft.llm.LangModel.unigramNll(docs, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    val expectB = graft.llm.LangModel.unigramNll(docsB, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    Materializer.set(Materializer.PersistedTable(dir))
    try {
      // two branches of one composed job hit the same reuse site;
      // the read-back is lazy, so with a shared table name branch A
      // would silently serve branch B's rows after the overwrite
      val a = graft.llm.LangModel.unigramNll(docs, "doc_id", "text")
      val b = graft.llm.LangModel.unigramNll(docsB, "doc_id", "text")
      assert(a.orderBy("doc_id").collect().toSeq === expectA)
      assert(b.orderBy("doc_id").collect().toSeq === expectB)
      // both invocations' tables exist side by side
      val tables = new java.io.File(dir).list().toSeq
        .filter(_.startsWith("langmodel_unigram_tf"))
      assert(tables.size >= 2, s"expected per-invocation tables, got $tables")
    } finally {
      Materializer.reset()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("reset restores the lazy localCheckpoint default") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_materializer2").toString
    Materializer.set(Materializer.PersistedTable(dir))
    Materializer.reset()
    try {
      // after reset, running a reuse-point operator writes NO tables
      graft.llm.LangModel.unigramNll(docs, "doc_id", "text").collect()
      assert(Option(new java.io.File(dir).list()).forall(_.isEmpty))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }
}
