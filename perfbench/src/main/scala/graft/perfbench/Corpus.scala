package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** One query inside a corpus pass. */
final case class QueryRun(name: String, nanos: Long, error: Option[String])

final case class Pass(nanos: Long, cpuNanos: Long, runs: Seq[QueryRun])

/**
 * The retrieval and curation operators through `SparkEntry.queries`: one
 * pass runs each query once, in an order set by the seed. A query is built
 * (the registry build, which runs the operators' eager phases) and then
 * executed by writing its result as parquet, which the oracle comparison
 * reads afterwards.
 */
class Corpus(spark: SparkSession, tracer: Tracer, dataDir: String, seed: Long) {

  val order: Seq[String] = new scala.util.Random(seed).shuffle(Corpus.Queries)

  private def attempt(body: => Unit): Option[String] =
    try { body; None }
    catch { case e: Exception => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }

  /** Runs every query once, untimed: builds the standing indexes and
    * memos and warms the JIT before the steady passes. Serial: the
    * standing indexes and memos are process-wide and keyed by corpus. */
  def warm(): Seq[QueryRun] =
    order.map { q =>
      spark.catalog.clearCache()
      QueryRun(q, 0L, attempt(SparkEntry.queries(q)(spark, dataDir).queryExecution.toRdd.count()))
    }

  /** One pass, writing each result under `outDir/<query>`; its spans
    * carry `runId`. */
  def pass(runId: Int, outDir: String): Pass = {
    tracer.run = runId
    val cpu0 = Host.processCpuNanos()
    val runs = order.map { q =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val err = attempt(tracer.span(s"queries.$q") {
        val df = tracer.span(s"queries.$q.build")(SparkEntry.queries(q)(spark, dataDir))
        tracer.span(s"queries.$q.exec")(df.write.mode("overwrite").parquet(s"$outDir/$q"))
      })
      QueryRun(q, System.nanoTime() - t0, err)
    }
    Pass(runs.map(_.nanos).sum, Host.processCpuNanos() - cpu0, runs)
  }
}

object Corpus {
  val Queries: Seq[String] = Seq(
    "q127_bm25_topk", "q130_hybrid_rrf", "q131_mmr_rerank",
    "q133_hybrid_ann_rrf", "q34_ngram_jaccard", "q125_dsir_resample",
    "q120_cluster_keep_best")
}
