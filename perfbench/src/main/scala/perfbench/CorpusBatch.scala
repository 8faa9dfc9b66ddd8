package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.{Curation, Dedup, Similarity, TextAnalysis}

/** `corpus_batch`: repeated passes of the curation kernels over one
  * documents + embeddings corpus. Each call writes its result as
  * parquet (the action that runs it); the pass's outputs are checked
  * against the registry's DuckDB oracles. */
object CorpusBatch {

  def run(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val t = ctx.tracer
    val corpus = s"${ctx.inputs}/corpus"
    def docs = spark.read.parquet(s"$corpus/documents.parquet")
    val nDocs = ctx.params("corpus_docs").toLong

    val reps = ctx.setupReps(3) { _ =>
      require(docs.count() == nDocs, "corpus size differs from the generator's")
    }

    /** One kernel call; its output lands in `out/<pass>/<name>`. */
    def call(pass: String, name: String)(df: => DataFrame): Unit =
      ctx.op("kernel", s"ext.$name", Map("pass" -> pass)) {
        df.write.mode("overwrite").parquet(ctx.path("out", pass, name))
      }

    /** The six kernel calls of one pass, in order. */
    def passCalls(pass: String, dir: String): Seq[() => Unit] = {
      def docs = spark.read.parquet(s"$dir/documents.parquet")
      def emb = spark.read.parquet(s"$dir/embeddings.parquet")
      def pages = spark.read.parquet(s"$dir/pages.parquet")
      Seq(
        () => call(pass, "curate")(Curation.curate(docs, "doc_id", "text",
            lang = "en", minQuality = 60.0)
          .select(col("doc_id"), round(col("quality"), 6).as("quality"),
            col("n_tokens").cast("long").as("n_tokens"), col("split"))),
        () => call(pass, "langIdNgramLocal")(
          TextAnalysis.langIdNgramLocal(docs, "doc_id", "text")),
        () => call(pass, "htmlBlocksLocal")(
          TextAnalysis.htmlBlocksLocal(pages, "doc_id", "page")
            .select(col("doc_id"), col("block_idx"),
              md5(col("block_text")).as("block_md5"), col("n_chars"),
              col("n_words"), col("link_ppm"), col("kept").cast("long").as("kept"))),
        () => call(pass, "minhashDupPairs")(
          Dedup.minhashDupPairs(docs, "doc_id", "text", threshold = 0.5)
            .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))),
        () => call(pass, "dupClusters")(
          Dedup.dupClusters(spark.read.parquet(ctx.path("out", pass, "minhashDupPairs")))
            .select(col("id").as("doc_id"), col("cluster_id"))),
        () => {
          call(pass, "knnIvf")(
            Similarity.knnIvf(emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding", k = 5)
              .select(col("query_id"), col("rank").cast("long").as("rank"),
                col("nn_id"), col("cos_sim")))
          // the kernels persist intermediates for their callers to release
          spark.catalog.clearCache()
        })
    }

    // warm-up: one full pass, not timed (JIT, codegen)
    val w0 = System.nanoTime()
    passCalls("warm", corpus).foreach(_())
    val warmupS = (System.nanoTime() - w0) / 1e9

    var pass = 0
    ctx.timed { () =>
      pass += 1
      val p0 = System.nanoTime()
      passCalls(s"p$pass", corpus).foreach(_())
      ctx.ops += Map("kind" -> "pass", "name" -> "pass", "pass" -> pass,
        "s" -> (System.nanoTime() - p0) / 1e9, "ok" -> true, "warmup" -> false,
        "docs" -> nDocs)
      true
    }

    // candidate pairs of the banding, for the useful-work ratio; counted
    // after the timed window and only when tracing
    val candidates =
      if (t.enabled) Dedup.candidatePairs(
        Dedup.minhashBandRelation(docs, "doc_id", "text"), "doc_id").count()
      else -1L
    val verified =
      if (t.enabled) spark.read.parquet(ctx.path("out", "p1", "minhashDupPairs")).count()
      else -1L
    Map("workload" -> "corpus_batch", "setup_reps_s" -> reps,
      "warmup_s" -> warmupS, "passes" -> pass, "corpus_docs" -> nDocs,
      "out" -> ctx.path("out"), "candidate_pairs" -> candidates,
      "verified_pairs" -> verified)
  }
}
