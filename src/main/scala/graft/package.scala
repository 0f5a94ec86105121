/** graft — a Spark-native analytics engine with the query and
  * data-processing surface of a partitioned, time-ordered message broker
  * (see SURVEY.md for the reference analysis), plus the operator families a
  * large-scale training-data pipeline needs.
  *
  * ==Entry points==
  *
  *  - [[graft.Engine]] — the broker facade: ingest (validated, assigned,
  *    replay-deduped), the three read shapes (last-N / from / range),
  *    metadata, retention, TTL, compaction.
  *  - [[graft.store.MessageStore]] — the bucketed physical store:
  *    partitioned parquet, one UTC-day bucket per row's ts, merge-on-read
  *    upsert, crash-safe compaction with clean markers, bounded last-N.
  *  - [[graft.operators.BrokerQueries]] — the logical read-path operators
  *    over any stream_data relation.
  *  - [[graft.serve.QueryApi]] / [[graft.serve.Formats]] /
  *    [[graft.serve.Resend]] — the serving surface: REST param contract,
  *    wire formats (versions 30/31/32), resend envelopes, backpressure.
  *  - [[graft.streaming.IngestPipeline]] — the Structured Streaming hot
  *    path; [[graft.streaming.MetricsStream]], [[graft.streaming.StreamDedup]],
  *    [[graft.streaming.StreamAsof]] for stateful stream operators.
  *
  * ==Training-data pipeline operators==
  *
  *  - Dedup: [[graft.dedup.Dedup]] — exact, n-gram Jaccard (df-capped and
  *    exact), MinHash+LSH, multi-probe SimHash, duplicate-substring spans,
  *    incremental snapshot flags, benchmark decontamination, alternating-star
  *    duplicate clustering, quality-aware canonical selection.
  *  - Similarity / ANN: [[graft.similarity.Similarity]] — quantized exact
  *    cosine top-k, sign-bucket IVF, learned-centroid IVF (deterministic
  *    Lloyd's), embedding near-dup (label- and sign-LSH-blocked), SemDeDup.
  *  - Text: [[graft.text.TextAnalysis]] — stats, language ID, Gopher
  *    quality gates, repetition signals, PII redaction, chunking, TF-IDF,
  *    boilerplate, n-gram vocabulary, fingerprinting, Misra-Gries heavy
  *    hitters, integer-exact bigram LM scoring (self- and cross-corpus).
  *  - Sampling / shaping: [[graft.operators.Sampling]] (hash, stratified,
  *    fixed-k, mixture rebalance, deterministic splits),
  *    [[graft.operators.Packing]] (greedy sequence packing),
  *    [[graft.operators.RobustStats]] (winsorize, MAD),
  *    [[graft.operators.AsofJoin]], [[graft.operators.Sessionize]],
  *    [[graft.operators.Relational]] (star joins, rollup, cohorts, top-k),
  *    [[graft.operators.Skew]] (salted join/agg).
  *  - Multimodal: [[graft.multimodal.Multimodal]] — binary-column plumbing
  *    with a stubbed codec boundary.
  *
  * ==Custom Catalyst expressions (all codegen)==
  *
  * [[graft.functions.Md5Partition]], [[graft.functions.Md5Int]],
  * [[graft.functions.QuantizedDot]], [[graft.functions.CentroidRank]],
  * [[graft.functions.FingerprintFold]]; SQL-registered via
  * [[graft.functions.GraftExtensions]].
  *
  * ==Correctness and scale conventions==
  *
  * Every SQL-expressible operator is gated by a DuckDB oracle
  * ([[graft.SparkEntry.oracleSql]]) compared hash-exact at sf0.01 — the
  * determinism rules that make that possible (integer-exact sums, md5-based
  * hashing, floor quantization, no engine-divergent float math) are
  * documented in README.md, and the physical-plan properties that make the
  * operators scale (broadcasts, shared exchanges, bounded pair fan-out, no
  * cartesians) are asserted by PlanContractSpec.
  */
package object graft
