package graft.perfbench

import graft.QFn

/** The benchmark's layers and workloads, both derived from the program's
  * public operator registries. */
object Workloads {

  /** Layer name → the operator map of every module in that layer. An op
    * belongs to the layer whose module `queries` map registers it. */
  def modules: Seq[(String, Map[String, QFn])] = Seq(
    "etl.ingest" -> graft.etl.Ingest.queries,
    "etl.transforms" -> graft.etl.Transforms.queries,
    "etl.upsert" -> graft.etl.Upsert.queries,
    "etl.bucketing" -> graft.etl.Bucketing.queries,
    "analytics" -> (graft.analytics.Queries.queries ++
      graft.analytics.Temporal.queries ++ graft.analytics.Advanced.queries),
    "streaming" -> graft.streaming.StreamOps.queries,
    "llm.dedup" -> graft.llm.DedupOps.queries,
    "llm.similarity" -> graft.llm.SimilarityOps.queries,
    "llm.text" -> (graft.llm.TextOps.queries ++ graft.llm.SampleOps.queries ++
      graft.llm.MultimodalOps.queries))

  /** Layer → sorted op names, as written to the run record. */
  def layerOps: Seq[(String, Seq[String])] =
    modules.map { case (layer, m) => layer -> m.keys.toSeq.sorted }

  /** Each workload's ops, in pipeline order. Every op costs about a
    * second of fixed per-action overhead even on small inputs, and a run
    * executes its ops three times (oracle dump plus two timed iterations)
    * after a cold set-up, so each list keeps one or two ops per layer. */
  def ops(workload: String): Seq[String] = workload match {
    // one hourly drop end to end: RDS extract, CSV export to S3, a sorted
    // bucket layout, the incremental warehouse upsert, the file-drop
    // stream, then the funnel view over the drop
    case "etl_hourly" => Seq(
      "scan_jdbc_export", "sink_csv", "sink_sorted_runs", "incremental_upsert",
      "stream_file_source_upsert", "project_derive_year_month", "agg_funnel_counts")
    // corpus cleaning over the replicated documents: normalise the text,
    // exact, containment, span and embedding dedup, an embedding index
    // append, then exact similarity search. The MinHash-candidate family
    // is left out: on this corpus its LSH recall misses true pairs its
    // oracle requires.
    case "llm_corpus" => Seq(
      "llm_text_normalize", "llm_dedup_exact_normalized", "llm_dedup_containment",
      "llm_dedup_span", "llm_dedup_embedding", "llm_emb_index_append",
      "llm_similarity_topk")
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
