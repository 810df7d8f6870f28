package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Curation.trainReadyStats' exact path as separate module calls, for the
  * benchmark's traced run. It sits in package `graft.ops` because the
  * drop-set builder it times is package-private there. Each step is
  * materialized once inside `span`, so the spans' self times cover the
  * pass. Keep in step with Curation.trainReady and trainReadyStats. */
object CurationTrace {
  def trainReadyStats(docs: DataFrame, sink: DataFrame => Unit,
                      span: String => (=> Any) => Any, record: (String, Long) => Unit): Unit = {
    def cached(name: String, df: => DataFrame): DataFrame = {
      var d: DataFrame = null
      span(name) { d = df.persist(); record(name + "_rows", d.count()) }
      d
    }
    val quality = cached("textanalysis.quality",
      TextAnalysis.quality(docs, Seq("lang")).filter(col("doc_id").isNotNull)
        .select("doc_id", "lang", "quality_score"))
    val rep = cached("textanalysis.repetition",
      TextAnalysis.repetition(docs).select("doc_id", "top_bigram_frac"))
    val tok = cached("dedup.postings", Dedup.postings(docs, n = 3))
    val dropped = cached("dedup.dropset", Dedup.trainReadyDropSet(tok, 0.8, 0.5))
    span("curation.chain") {
      sink(quality.filter(col("quality_score") >= 0.46)
        .filter(Sampling.splitColumn(col("doc_id")) === "train")
        .join(rep, Seq("doc_id"), "left")
        .filter(coalesce(col("top_bigram_frac"), lit(0.0)) <= 0.1)
        .join(dropped, Seq("doc_id"), "left_anti")
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          (sum(col("quality_score").cast("decimal(18,12)")).cast("double") / count(lit(1)))
            .as("mean_quality"))
        .orderBy("lang"))
    }
    Seq(quality, rep, tok, dropped).foreach(_.unpersist())
  }
}
