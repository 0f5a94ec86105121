package graft

/** Plan contracts over every gated query at sf0.001: the properties that
  * make the engine scale are asserted on the PHYSICAL plan, so a silent
  * optimizer / code-shape regression (a cartesian product sneaking in, a
  * star join losing its broadcast) fails a test instead of a bench round.
  */
class PlanContractSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** q_last_bounded RETURNS a driver-local parallelized relation (the
    * bounded read collects eagerly), so asserting on its plan would be
    * vacuous — its real physical read path is covered by the dedicated
    * test below over the extracted inner plan. q_store_roundtrip also
    * materializes a store append when constructed, but its RETURNED plan
    * (metadata over the store read) is real and stays in the sweep. */
  private val materializing = Set("q_last_bounded")

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("no gated query plans a cartesian product") {
    // the ANN scoring crossJoin is against a broadcast query set — Spark
    // plans it as BroadcastNestedLoopJoin, never CartesianProduct
    (SparkEntry.queries.keys.toSet -- materializing).toSeq.sorted.foreach { name =>
      val plan = planOf(name)
      assert(!plan.contains("CartesianProduct"), s"$name plans a cartesian product")
    }
  }

  test("scd2 partitions once: lag, lead, and version share one hash exchange") {
    val plan = planOf("q_scd2").split("== Initial Plan ==")(0)
    val n = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(n == 1, s"q_scd2 expected exactly one hash exchange, got $n:\n$plan")
  }

  test("narrow map operators never join: rendezvous, multi-pattern, blocklist") {
    Seq("q_rendezvous", "q_mpm", "q_blocklist").foreach { name =>
      val plan = planOf(name)
      assert(!plan.contains("Join"), s"$name must stay join-free:\n$plan")
    }
  }

  test("star joins broadcast their dimension side") {
    Seq("q3_shipping", "q5_local", "q10_returns").foreach { name =>
      val plan = planOf(name)
      assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
        s"$name lost its broadcast: $plan")
    }
  }

  test("ANN scoring broadcasts the query side") {
    Seq("q_ann_topk", "q_ann_ivf", "q_ann_kmeans", "q_ann_sq", "q_ann_pq",
      "q_ann_ivfpq", "q_contamination", "q_contamination_fuzzy",
      "q_contamination_bloom").foreach { name =>
      val plan = planOf(name)
      assert(plan.contains("BroadcastExchange"), s"$name lost its broadcast")
    }
  }

  test("pca projection is a fused narrow map; padding plan reduces to the histogram") {
    // q_pca_project's returned frame must be a pure projection over the
    // corpus scan (the basis is driver-held metadata) — no join, no
    // aggregate in the serving plan
    val pca = planOf("q_pca_project")
    assert(!pca.contains("Join") && !pca.contains("Aggregate"),
      s"q_pca_project must be a pure projection over the scan: $pca")
    // q_padding_plan's windows/bucket aggregate run over the bounded
    // length histogram — the corpus parquet is scanned exactly once
    val plan = planOf("q_padding_plan").split("== Initial Plan ==")(0)
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"q_padding_plan expected one corpus scan, got $scans:\n$plan")
  }

  test("BM25 stays corpus-light: broadcast stats/df, TakeOrdered top-k") {
    // the only exchange may carry query-term rows; the 1-row stats and
    // per-term df tables must broadcast, and top-k must be TakeOrdered
    // (per-partition heaps), never a global Sort + Limit
    val plan = planOf("q_bm25")
    assert(plan.contains("BroadcastExchange"), s"q_bm25 lost its broadcasts: $plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"q_bm25 top-k is not TakeOrdered: $plan")
  }

  test("DSIR scoring broadcasts the bucket-count model tables") {
    // the whole point of hashed features: the models are `buckets` rows,
    // so scoring must be a broadcast join — the corpus never shuffles
    val plan = planOf("q_dsir")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"q_dsir lost the broadcast model join: $plan")
  }

  test("jaccard variants keep the single shared shingle exchange shape") {
    Seq("q_ngram_jaccard", "q_ngram_jaccard_exact").foreach { name =>
      val plan = planOf(name)
      // the explicit repartition(shingle) appears as a hashpartitioning
      // exchange; ReuseExchange/AQE stage reuse dedupes it at runtime
      assert(plan.contains("hashpartitioning(shingle"), s"$name lost the shingle exchange")
    }
  }

  test("bucketed join plans zero exchanges on the join keys") {
    // both sides are persisted bucketed on the key, so the SortMergeJoin
    // must consume the scans directly — the ONLY allowed exchanges are
    // the post-join priority aggregate and the final sort. Broadcast is
    // disabled for the check: at sf0.001 the orders side broadcasts
    // (also exchange-free), but the contract being pinned is the
    // fact-fact regime where neither side fits an executor.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val plan = try planOf("q_bucketed_join")
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert(plan.contains("SortMergeJoin"), s"q_bucketed_join lost SMJ: $plan")
    assert(!plan.matches("(?s).*Exchange hashpartitioning\\(o_orderkey.*"),
      s"q_bucketed_join shuffles the orders side: $plan")
    assert(!plan.matches("(?s).*Exchange hashpartitioning\\(l_orderkey.*"),
      s"q_bucketed_join shuffles the lineitem side: $plan")
    // the scans must report the bucket spec (SelectedBucketsCount)
    assert(plan.contains("SelectedBucketsCount"),
      s"q_bucketed_join reads unbucketed scans: $plan")
  }

  test("new r10 additions keep their scale-critical shapes") {
    // skyline: phase-1 window partitions by bucket (a keyed shuffle over
    // the distinct-point set), never a raw single-partition global sort
    val sk = planOf("q_skyline")
    assert(sk.contains("hashpartitioning(_b"),
      s"q_skyline lost the bucket-local phase: $sk")
    // JL sketch search: projection fuses into the scan (no UDF, no
    // shuffle before the broadcast score join)
    val rp = planOf("q_ann_rp")
    assert(rp.contains("BroadcastExchange"), s"q_ann_rp lost its broadcast: $rp")
    // MMR: candidate generation broadcasts; the greedy is a grouped map,
    // never a driver collect (plan must show the flatMapGroups stage)
    val mm = planOf("q_mmr")
    assert(mm.contains("BroadcastExchange"), s"q_mmr lost its broadcast: $mm")
    assert(mm.contains("MapGroups"), s"q_mmr greedy is not a grouped map: $mm")
    // trend/corr: one keyed aggregate, exact-int stats (no stddev/corr
    // built-ins whose float merge order would be engine-dependent)
    Seq("q_trend", "q_corr").foreach { n =>
      val p = planOf(n)
      assert(!p.contains("corr(") && !p.contains("stddev"),
        s"$n must derive from integer sums: $p")
    }
  }

  test("r10 additions keep their scale-critical shapes") {
    // weighted jaccard: the one gram-keyed exchange both self-join sides read
    val wj = planOf("q_weighted_jaccard")
    assert(wj.contains("hashpartitioning(tok"),
      s"q_weighted_jaccard lost the token exchange: $wj")
    // qgram edit join: token exchange + the final filter keeps the banded
    // levenshtein threshold form (dist >= 0 implies the -1 sentinel path)
    val qg = planOf("q_qgram_edit")
    assert(qg.contains("hashpartitioning(tok"),
      s"q_qgram_edit lost the token exchange: $qg")
    assert(qg.contains("levenshtein"), s"q_qgram_edit lost the verifier: $qg")
    // funnel: the steps spine joins broadcast; no users-sized sort appears
    val fn = planOf("q_funnel")
    assert(fn.contains("BroadcastHashJoin") || fn.contains("BroadcastExchange"),
      s"q_funnel lost the broadcast spine join: $fn")
    // dense minutes: the spine generates from the aggregated (min,max)
    // rows — a Generate above an aggregate, never above raw messages
    val md = planOf("q_metrics_dense")
    assert(md.contains("Generate explode(sequence"),
      s"q_metrics_dense lost the sequence-exploded spine: $md")
  }

  test("r11 additions keep their scale-critical shapes") {
    // stupid-backoff LM: the 1-row totals ride as a broadcast; the five
    // gram joins stay keyed (never nested-loop)
    val lb = planOf("q_lm_backoff")
    assert(lb.contains("BroadcastExchange"), "q_lm_backoff totals must broadcast")
    // BPE encode: no nested-loop anywhere — merge folds are narrow maps
    // over the distinct-word table, the corpus pays one keyed join
    val be = planOf("q_bpe_encode")
    assert(!be.contains("BroadcastNestedLoopJoin"),
      s"q_bpe_encode must not plan a nested-loop join: $be")
    // FS linkage: source-frequency + totals broadcast; candidates come
    // from the block-partitioned window (cartesian sweep covers the rest)
    val lk = planOf("q_linkage")
    assert(lk.contains("BroadcastExchange"), "q_linkage model tables must broadcast")
    // melt: the unpivot leg plans as Expand, and the only join-free
    // reshape — no Join node anywhere in the plan
    val up = planOf("q_unpivot")
    assert(up.contains("Expand"), s"q_unpivot must plan as Expand: $up")
    assert(!up.contains("Join"), s"q_unpivot must not join: $up")
    // global rank: the rank window runs per range-bucket (hash exchange
    // on __b), NEVER as a single-partition global sort — the whole point
    // of the decomposition (the output orderBy's rangepartitioning is the
    // distributed display sort, which is fine)
    val gr = planOf("q_global_rank")
    assert(gr.contains("hashpartitioning(__b"),
      s"q_global_rank lost its bucket-keyed rank window: $gr")
    assert(!gr.contains("Exchange SinglePartition"),
      s"q_global_rank must not plan a single-partition exchange: $gr")
  }

  test("prefix-filter join keeps the single token exchange; pmi is TakeOrdered") {
    val plan = planOf("q_prefix_filter")
    // the explicit repartition(tok) exchange feeds df count, both
    // candidate-join sides, and the verification joins (ReuseExchange)
    assert(plan.contains("hashpartitioning(tok"),
      s"q_prefix_filter lost the token exchange: $plan")
    val pmi = planOf("q_pmi")
    // top-K must be a TakeOrdered, never a global sort, and the corpus
    // totals must ride as 1-row broadcasts
    assert(pmi.contains("TakeOrderedAndProject"),
      s"q_pmi lost the TakeOrdered top-K: $pmi")
    assert(pmi.contains("BroadcastNestedLoopJoin") || pmi.contains("BroadcastExchange"),
      s"q_pmi lost the broadcast totals: $pmi")
  }

  test("capped incremental dedup keeps the corpus shingle exchange and df filter") {
    val plan = planOf("q_dedup_incremental_capped")
    // the corpus-side repartition(shingle) is the one exchange the df
    // aggregate and the kept-join both read (ReuseExchange/AQE stage reuse)
    assert(plan.contains("hashpartitioning(shingle"),
      s"capped incremental dedup lost the corpus shingle exchange: $plan")
    // the cap itself must survive as a post-aggregate df filter — without
    // it the daily-ingest join is the engine's only unbounded fan-out
    assert(plan.contains("(df#") || plan.contains("df <="),
      s"document-frequency cap filter missing from the plan: $plan")
  }

  test("source quota cap prunes via WindowGroupLimit on both shuffle sides") {
    val plan = planOf("q_source_quota")
    // partial (pre-exchange) + final WindowGroupLimit: a skewed source is
    // top-k-pruned map-side, so the per-source sort never sees the full
    // group — the property that keeps a billion-page host streaming
    assert("WindowGroupLimit".r.findAllIn(plan).size >= 2,
      s"q_source_quota lost its two-sided WindowGroupLimit pruning: $plan")
  }

  test("interval join decomposes to an equi-join — never a nested-loop range join") {
    // the naive BETWEEN formulation plans a BroadcastNestedLoopJoin; the
    // bucket decomposition must keep it a hash/sort-merge equi-join on
    // (user, bucket) with the BETWEEN as a residual predicate
    val plan = planOf("q_interval")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"q_interval regressed to a nested-loop range join: $plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"q_interval lost its equi-join decomposition: $plan")
  }

  test("unimax selection prunes via WindowGroupLimit like the other fixed-k samplers") {
    val plan = planOf("q_unimax")
    assert("WindowGroupLimit".r.findAllIn(plan).size >= 2,
      s"q_unimax lost its two-sided WindowGroupLimit pruning: $plan")
  }

  test("z-order cells aggregate with a map-side partial — one narrow scan, one exchange") {
    val plan = planOf("q_zorder")
    assert(plan.contains("partial_count") || plan.contains("partial"),
      s"q_zorder lost its map-side combine: $plan")
    assert(!plan.contains("SinglePartition") || plan.contains("rangepartitioning"),
      s"q_zorder planned a single-partition aggregate: $plan")
  }

  test("temperature sampling prunes via WindowGroupLimit like unimax") {
    val plan = planOf("q_temperature")
    assert("WindowGroupLimit".r.findAllIn(plan).size >= 2,
      s"q_temperature lost its two-sided WindowGroupLimit pruning: $plan")
  }

  test("profile and histogram aggregate with map-side partials, no join") {
    Seq("q_profile", "q_histogram").foreach { name =>
      val plan = planOf(name)
      assert(plan.contains("partial"), s"$name lost its map-side combine: $plan")
      assert(!plan.contains("Join"), s"$name grew an unexpected join: $plan")
    }
  }

  test("corpus diff joins digests, not documents") {
    // the only columns through any exchange are the key and the 32-char
    // digests — the `text` column must be reduced to md5 BEFORE shuffling
    val plan = planOf("q_corpus_diff")
    val lines = plan.split("\n")
    val joins = lines.indices.filter(i => lines(i).contains("Exchange hashpartitioning"))
    assert(joins.size >= 2, s"q_corpus_diff lost its key-partitioned join:\n$plan")
    joins.foreach { i =>
      assert(lines(i).contains("(k#"),
        s"q_corpus_diff exchange not keyed on the digest key:\n$plan")
      // the exchange's direct child must already be digest-shaped: a
      // Project computing md5, or the Union of two such projections
      assert(lines(i + 1).contains("md5(") || lines(i + 1).contains("Union"),
        s"q_corpus_diff ships document text through an exchange:\n$plan")
    }
  }

  test("incremental agg merge is one key join over two partial aggregates") {
    val plan = planOf("q_incr_agg")
    assert(plan.contains("partial"), s"q_incr_agg lost map-side partials: $plan")
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
      .findAllIn(plan).size >= 1, s"q_incr_agg lost its merge join: $plan")
  }

  test("epoch order plans no single-partition exchange") {
    // the whole point of the bucket-offset construction: a global dense
    // rank WITHOUT row_number's Exchange SinglePartition bottleneck. The
    // final output orderBy is a rangepartitioning — also parallel.
    val plan = planOf("q_epoch_order")
    assert(!plan.contains("SinglePartition"),
      s"q_epoch_order regressed to a single-partition global sort: $plan")
    assert(plan.contains("hashpartitioning(__eb"),
      s"q_epoch_order lost its bucket-key window exchange: $plan")
  }

  test("concat chunk plans a bucket-keyed window, never a global prefix sum") {
    // same decomposition contract as epoch order: the corpus-wide running
    // token sum must come from per-bucket windows + broadcast offsets, not
    // `sum() OVER (ORDER BY doc_id)` on one partition
    val plan = planOf("q_concat_chunk")
    assert(!plan.contains("SinglePartition"),
      s"q_concat_chunk regressed to a single-partition prefix sum: $plan")
    assert(plan.contains("hashpartitioning(__cb"),
      s"q_concat_chunk lost its bucket-key window exchange: $plan")
    assert(plan.contains("specifiedwindowframe(RowFrame"),
      s"q_concat_chunk lost the ROWS running-sum frame: $plan")
  }

  test("multi-query BM25 broadcasts the probe terms and prunes top-k map-side") {
    val plan = planOf("q_bm25_multi")
    assert(plan.contains("BroadcastHashJoin"),
      s"q_bm25_multi lost the broadcast of the query-term set: $plan")
    assert(plan.contains("WindowGroupLimit"),
      s"q_bm25_multi lost the per-query top-k short-circuit: $plan")
  }

  test("RRF fusion prunes the fused top-k map-side") {
    val plan = planOf("q_rrf_fusion")
    assert(plan.contains("WindowGroupLimit"),
      s"q_rrf_fusion lost the per-query top-k short-circuit: $plan")
  }

  test("sequential poisson plans a TakeOrdered top-k, never a global sort") {
    val plan = planOf("q_seq_poisson")
    assert(plan.contains("TakeOrderedAndProject"),
      s"q_seq_poisson lost its top-k short-circuit: $plan")
  }

  test("token budget window runs a streaming ROWS frame on the stratum key") {
    val plan = planOf("q_token_budget")
    assert(!plan.contains("SinglePartition"),
      s"q_token_budget planned a single-partition window: $plan")
    // ROWS frame (not the orderBy-default RANGE): streaming-evaluable sum
    assert(plan.contains("specifiedwindowframe(RowFrame"),
      s"q_token_budget lost the ROWS running-sum frame: $plan")
  }

  test("bounded last-N physical read path: partitioned window, no cartesian") {
    // build a tiny real store once, then assert on the ACTUAL inner
    // dedup+top-K plan requestLastBounded executes: the top-K over the
    // stream-part read of its covering buckets (all buckets here, all
    // dirty) — the eager collect in the public API hides it
    import org.apache.spark.sql.functions.col
    val path = java.nio.file.Files.createTempDirectory("graft_plan_lb").toString
    val fsRoot = new org.apache.hadoop.fs.Path(path)
    try {
      graft.store.MessageStore.append(
        graft.sources.Tables.streamData(spark, sfDir)
          .filter(col("stream_id") === "click" && col("stream_partition") === 3),
        path)
      val part = graft.store.MessageStore.openStreamPart(spark, path, "click", 3)
      assert(part.inputFiles.nonEmpty)
      val plan = graft.operators.BrokerQueries.requestLast(part, "click", 3, 100)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"bounded last-N plans a cartesian: $plan")
      // the merge-on-read dedup window must be key-partitioned, never a
      // global (empty-partition-spec) window: its spec is the uniqueness
      // key, which starts at the stream-part columns
      assert(plan.contains("windowspecdefinition(stream_id"),
        s"dedup window lost its partition spec: $plan")
    } finally {
      fsRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(fsRoot, true)
    }
  }

  test("committed batch: one exchange between source and writer, none in the aggregate") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    val s = spark
    import s.implicits._
    // a narrow multi-partition source, like a MemoryStream batch
    val batch = spark.createDataset(spark.sparkContext.parallelize((0 until 12).map(i =>
      msg(if (i % 2 == 0) "s" else "t", 0, 1000L + i, i)), 6)).toDF()
    val path = java.nio.file.Files.createTempDirectory("graft_plan_commit").toString
    val reg = new graft.serve.SubscriptionRegistry()
    reg.subscribe("c", "s", 0)
    spark.listenerManager.register(listener)
    try {
      graft.streaming.IngestPipeline.commit(batch, 0L, path, None, 10000L,
        reg.dispatch)()
      org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    object H extends AdaptiveSparkPlanHelper
    import scala.jdk.CollectionConverters._
    val executed = plans.asScala.toSeq
    // aggregate, fan-out and write: each reads the cached prepared batch
    assert(executed.size == 3, executed.mkString("\n"))
    def exchanges(p: SparkPlan) = H.collect(p) { case e: Exchange => e }
    executed.foreach(p => assert(exchanges(p).isEmpty, s"exchange outside the cache:\n$p"))
    assert(executed.count(p => H.collect(p) { case a: BaseAggregateExec => a }.nonEmpty) == 1)
    val cached = executed.flatMap(p => H.collect(p) {
      case t: InMemoryTableScanExec => t.relation.cachedPlan
    }).distinct
    assert(cached.size == 1 && exchanges(cached.head).size == 1,
      cached.map(_.treeString).mkString("\n"))
  }

  test("dup-span and semdedup self-joins keep their single shared exchange") {
    // both sides of each bounded pair join must hash-partition on the
    // blocking key (gram fingerprint / cluster id) — losing the exchange
    // turns the bounded join into a replan candidate at scale
    assert(planOf("q_dup_spans").contains("hashpartitioning(g#"),
      "q_dup_spans lost its gram exchange")
    assert(planOf("q_semdedup").contains("hashpartitioning(cid#"),
      "q_semdedup lost its cid exchange")
  }

  test("as-of join plans one key window, no join node at all") {
    val plan = planOf("q_asof")
    assert(plan.contains("Window"), "as-of must run as a window pass")
    assert(!plan.contains("Join"),
      s"as-of must not plan any join (merge-sort formulation): $plan")
  }

  test("heavy hitters: candidate recount joins broadcast, threshold join broadcast") {
    val plan = planOf("q_heavy_hitters")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"candidate semi-join must broadcast the tiny candidate set: $plan")
  }

  test("hopping windows: map-side window expand + partial agg, no join") {
    val plan = planOf("q_hopping")
    assert(plan.contains("partial"),
      s"q_hopping lost its map-side partial aggregation: $plan")
    assert(!plan.contains("Join"),
      s"q_hopping must expand windows map-side, never via a join: $plan")
  }

  test("ppl buckets: cutoffs broadcast back onto the corpus, no global doc sort") {
    val plan = planOf("q_ppl_bucket")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"q_ppl_bucket lost the broadcast cutoff join: $plan")
    // the only Window node runs over the (lang, score) count table —
    // its input must be an aggregate, never the raw per-document rows
    assert(!plan.contains("CartesianProduct"), s"q_ppl_bucket cartesian: $plan")
  }

  test("bpe pair stats: vocabulary-table expansion, TakeOrdered top-k") {
    val plan = planOf("q_bpe_pairs")
    assert(plan.contains("TakeOrderedAndProject"),
      s"q_bpe_pairs top-k must be TakeOrdered, not a global sort: $plan")
    assert(plan.contains("partial"),
      s"q_bpe_pairs lost its map-side combines: $plan")
  }

  test("cdc chunks: a pure narrow map — generate over the scan, no shuffle joins") {
    val plan = planOf("q_cdc_chunks")
    assert(plan.contains("Generate"),
      s"q_cdc_chunks lost its span explode: $plan")
    assert(!plan.contains("Join"), s"q_cdc_chunks grew a join: $plan")
    // no aggregation/join exchange — the only allowed exchange is the
    // output orderBy's rangepartitioning
    assert(!plan.contains("Exchange hashpartitioning"),
      s"q_cdc_chunks must not shuffle before the sink: $plan")
  }

  test("skip-gram pairs: join-free array expansion, shuffle only to count") {
    val plan = planOf("q_skipgram")
    assert(plan.contains("Generate"), s"q_skipgram lost its explode: $plan")
    assert(!plan.contains("Join"), s"q_skipgram grew a join: $plan")
  }

  test("market share: dimensions broadcast, at most the fact-orders merge join") {
    val plan = planOf("q_market_share").split("== Initial Plan ==")(0)
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(bhj >= 4, s"q_market_share expected >=4 broadcast joins, got $bhj:\n$plan")
    val smj = "SortMergeJoin".r.findAllIn(plan).length
    assert(smj <= 1, s"q_market_share fact side must shuffle at most once, got $smj:\n$plan")
  }

  test("NB classifier and hard negatives broadcast their model/anchor side") {
    Seq("q_nb_classify", "q_hard_negatives").foreach { name =>
      val plan = planOf(name)
      assert(plan.contains("BroadcastExchange"), s"$name lost its broadcast")
    }
  }

  test("lag features: every window column shares ONE user-keyed exchange") {
    val plan = planOf("q_lag_features").split("== Initial Plan ==")(0)
    val n = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(n == 1, s"q_lag_features expected exactly one hash exchange, got $n:\n$plan")
  }

  test("drift pair: one band-keyed exchange off a single scan") {
    // psi: the only hash exchange is the band count (totals broadcast);
    // ks adds the (n1, n2) rollup of the band table at most
    val psi = planOf("q_psi").split("== Initial Plan ==")(0)
    assert("Exchange hashpartitioning".r.findAllIn(psi).length == 1,
      s"q_psi expected exactly one hash exchange:\n$psi")
    val ks = planOf("q_ks").split("== Initial Plan ==")(0)
    assert("Exchange hashpartitioning".r.findAllIn(ks).length <= 2,
      s"q_ks expected <=2 hash exchanges:\n$ks")
  }

  test("vocab coverage: histogram-bounded — two keyed exchanges, no join") {
    val plan = planOf("q_vocab_coverage").split("== Initial Plan ==")(0)
    // token count + count histogram; the cumulative window and the
    // threshold explode run over the histogram, never the vocabulary
    assert("Exchange hashpartitioning".r.findAllIn(plan).length <= 2,
      s"q_vocab_coverage grew an extra shuffle:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"q_vocab_coverage must not shuffle-join:\n$plan")
  }

  test("seq patterns: one window shuffle + the bounded pattern aggregate") {
    val plan = planOf("q_seqpat").split("== Initial Plan ==")(0)
    val n = "Exchange hashpartitioning".r.findAllIn(plan).length
    // window(user) + the two-phase count-distinct aggregate; anything more
    // means the leads stopped sharing their window spec
    assert(n <= 3, s"q_seqpat expected <=3 hash exchanges, got $n:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"q_seqpat top-k is not TakeOrdered: $plan")
  }

  test("link prediction: z-side degree cap filters BEFORE the wedge join") {
    val plan = planOf("q_link_pred")
    // the default maxDegree=10000 must survive into the physical plan as
    // a filter on the degree count — without it one hub node makes the
    // wedge join quadratic in its degree
    assert(plan.contains("<= 10000"),
      s"q_link_pred lost the maxDegree z-side cap: $plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"q_link_pred top-k is not TakeOrdered: $plan")
  }

  test("winnow pairs: hot-fingerprint df cap filters BEFORE the self-join") {
    val plan = planOf("q_winnow_pairs")
    // the default maxDf=1000 boilerplate cap must appear as a filter on
    // the fp-partitioned window count — without it one cookie-banner
    // fingerprint shared by N docs emits N²/2 pairs. The cap must ride
    // the fp exchange (window spec on fp), not add a join of its own.
    assert(plan.contains("<= 1000"),
      s"q_winnow_pairs lost the maxDf fingerprint cap: $plan")
    assert(plan.contains("windowspecdefinition(fp"),
      s"q_winnow_pairs df cap must be the fp-keyed window count: $plan")
  }

  test("rank drift/diversity stats stay histogram-bounded") {
    // MWU and diversity: histogram aggregations + bounded windows — a
    // join or extra exchange means a rank table grew data-sized
    Seq("q_mwu", "q_diversity").foreach { name =>
      val plan = planOf(name).split("== Initial Plan ==")(0)
      assert(!plan.contains("Join"), s"$name must stay join-free:\n$plan")
      assert("Exchange hashpartitioning".r.findAllIn(plan).length <= 2,
        s"$name grew an extra shuffle:\n$plan")
    }
    // chao1: one count exchange, 1-row reduce
    val c = planOf("q_chao1").split("== Initial Plan ==")(0)
    assert(!c.contains("Join") &&
      "Exchange hashpartitioning".r.findAllIn(c).length <= 1,
      s"q_chao1 must be one keyed count + a global reduce:\n$c")
    // spearman: the two bounded rank tables must BROADCAST back onto the
    // fact rows — a shuffle join here means a histogram went data-sized
    val sp = planOf("q_spearman")
    assert(sp.contains("BroadcastExchange"),
      s"q_spearman lost the broadcast rank-table joins: $sp")
  }
  test("kendall collapses to one scan; good-turing/zipf stay join-free") {
    // kendall: two marginals + two pair-join sides all derive from the
    // same cells aggregation — after AQE exchange reuse the events scan
    // must run ONCE (the explicit null-day filter keeps the four
    // branches canonically identical)
    val kdf = SparkEntry.queries("q_kendall")(spark, sfDir)
    kdf.collect()
    val k = kdf.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert("FileScan parquet".r.findAllIn(k).length == 1,
      s"q_kendall must scan events once after exchange reuse:\n$k")
    assert(k.contains("ReusedExchange"),
      s"q_kendall lost cells-exchange reuse:\n$k")
    // good-turing: gram count -> count histogram -> bounded
    // single-partition windows; any join means the histogram grew a
    // second corpus pass
    val g = planOf("q_good_turing").split("== Initial Plan ==")(0)
    assert(!g.contains("Join"), s"q_good_turing must stay join-free:\n$g")
    // zipf: per-source rank window over the token counts, then a
    // <=topK-row aggregate — join-free by construction
    val z = planOf("q_zipf").split("== Initial Plan ==")(0)
    assert(!z.contains("Join"), s"q_zipf must stay join-free:\n$z")
  }

  test("containment rides the capped shingle join; padding is one aggregate") {
    // containment must carry the same df-cap filter shape as the capped
    // jaccard (a HAVING <= 5 on the shingle df before the self-join)
    val c = planOf("q_containment_pairs").split("== Initial Plan ==")(0)
    assert(c.contains("<= 5"),
      s"q_containment_pairs lost the df cap:\n$c")
    val p = planOf("q_padding").split("== Initial Plan ==")(0)
    assert(!p.contains("Join") && !p.contains("Window"),
      s"q_padding must be a single band aggregate:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"q_padding expected exactly one hash exchange:\n$p")
  }

  test("embedding covariance is one imperative-aggregate buffer merge") {
    // the sufficient stats must ride the cov_stats imperative aggregate
    // (one buffer per partition to a single merge) — no join, no
    // generated pair-row stream, no hash exchange at all
    val p = planOf("q_embed_cov").split("== Initial Plan ==")(0)
    assert(!p.contains("Join"), s"q_embed_cov must stay join-free:\n$p")
    assert(p.contains("cov_stats"),
      s"q_embed_cov lost the imperative aggregate:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"q_embed_cov must shuffle only aggregate buffers:\n$p")
    assert("partial_cov_stats".r.findAllIn(p).length == 1,
      s"q_embed_cov lost the per-partition partial:\n$p")
  }

  test("privacy audits stay histogram-bounded") {
    // l-diversity: two keyed aggregations, join-free
    val l = planOf("q_ldiversity").split("== Initial Plan ==")(0)
    assert(!l.contains("Join"), s"q_ldiversity must stay join-free:\n$l")
    assert("Exchange hashpartitioning".r.findAllIn(l).length <= 2,
      s"q_ldiversity grew an extra shuffle:\n$l")
    // t-closeness: the dense grid must build from BROADCAST bounded
    // tables (cross join of two aggregates — never cartesian-planned),
    // and the corpus scan lives ONLY in the checkpointed histogram — the
    // returned plan reads the pinned (class x band) table, zero rescans
    val tdf = SparkEntry.queries("q_tcloseness")(spark, sfDir)
    tdf.collect()
    val t = tdf.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(t.contains("BroadcastNestedLoopJoin") ||
      t.contains("BroadcastExchange"),
      s"q_tcloseness lost the broadcast grid build:\n$t")
    assert(!t.contains("FileScan parquet"),
      s"q_tcloseness must read the pinned histogram, not rescan:\n$t")
    assert("Scan ExistingRDD".r.findAllIn(t).length == 3,
      s"q_tcloseness expected three reads of ONE pinned histogram:\n$t")
  }

  test("media header gates keep scan-shaped plans: top-k reads, single-exchange stats") {
    // per-row header gates: ORDER BY media_id LIMIT 500 must plan as a
    // TakeOrdered top-k (never a global sort), with the parse expression
    // in-plan and no join/window
    Seq("q_image_header" -> "image_header",
        "q_audio_header" -> "wav_header",
        "q_video_header" -> "mp4_header").foreach { case (name, expr) =>
      val p = planOf(name).split("== Initial Plan ==")(0)
      assert(p.contains("TakeOrderedAndProject"),
        s"$name must plan a top-k, not a global sort:\n$p")
      assert(!p.contains("Join") && !p.contains("Window"),
        s"$name must stay scan-shaped:\n$p")
      assert(p.contains(expr), s"$name lost the native $expr expression:\n$p")
    }
    // stats gates: map-side partial aggregate, exactly one hash exchange,
    // no join — including the three-modality union, whose branches
    // partially aggregate BEFORE the single shared exchange
    Seq("q_image_stats", "q_audio_stats", "q_media_mix").foreach { name =>
      val p = planOf(name).split("== Initial Plan ==")(0)
      assert(!p.contains("Join"), s"$name must not join:\n$p")
      val n = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(n == 1, s"$name expected exactly one hash exchange, got $n:\n$p")
    }
  }

  test("bitext margin mining broadcasts the query sides; sums stay pre-rank") {
    val p = planOf("q_bitext_margin").split("== Initial Plan ==")(0)
    // both brute-force top-k directions broadcast their query side (the
    // ANN contract); the neighborhood-sum joins ride evaluation-sized
    // tables so nothing here may plan a sort-merge over the corpus
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"q_bitext_margin lost the broadcast query side:\n$p")
    assert(!p.contains("CartesianProduct"), s"q_bitext_margin plans a cartesian:\n$p")
  }

  test("crawl-stack parsing stays join-free narrow maps end to end") {
    // five layers of parsing (gzip -> warc -> http -> html) must plan as
    // explode + projections inside one scan pipeline: no join, no window
    // (the crawl fixture's own blob-building collect_list aggregate is
    // the synthetic front end, not the parse — a real deployment scans
    // .warc.gz files directly)
    Seq("q_html_text", "q_crawl_pipeline").foreach { name =>
      val p = planOf(name).split("== Initial Plan ==")(0)
      assert(!p.contains("Join") && !p.contains("Window"),
        s"$name must stay a scan-shaped parse pipeline:\n$p")
    }
    // the ingest audit aggregates but never joins
    val ing = planOf("q_warc_ingest").split("== Initial Plan ==")(0)
    assert(!ing.contains("Join"), s"q_warc_ingest must not join:\n$ing")
  }

  test("dedup execution sizes clusters by aggregation, never a corpus window") {
    // a PARTITION BY cluster window buffers the whole mega-cluster in one
    // task; the size join must stay a partial-combinable groupBy(cluster)
    Seq("q_dedup_apply", "q_dedup_dropped").foreach { name =>
      val p = planOf(name).split("== Initial Plan ==")(0)
      assert(!p.contains("Window"),
        s"$name plans a cluster-partitioned window:\n$p")
    }
  }

  test("shard writers: one shard-keyed exchange feeds the streaming assembler") {
    // the emit path must be repartition(shard) + in-shuffle sort +
    // MapPartitions — no collect_list aggregation buffering a whole shard
    // q_corpus_to_shards shares the identical shardRecordsOut emit tail
    // and is deliberately NOT re-run here — its full factory pipeline
    // (two eager landings) already executes once in the no-cartesian
    // sweep above; re-running it to string-match the same tail shape
    // would double the suite's heaviest execution for no new contract
    Seq("q_shard_roundtrip", "q_wds_roundtrip", "q_pack_emit").foreach { name =>
      val p = planOf(name).split("== Initial Plan ==")(0)
      assert(p.contains("hashpartitioning(shard"),
        s"$name lost the shard-keyed emit exchange:\n$p")
      assert(p.contains("MapPartitions"),
        s"$name lost the streaming shard assembler:\n$p")
      assert(!p.contains("collect_list(payload") && !p.contains("collect_list(members"),
        s"$name buffers whole shards in an aggregate:\n$p")
    }
  }

  test("metadata-only manifests: payload bytes never enter the shuffle") {
    // recordManifest/sampleManifest exist so the 100 TB diff costs one
    // metadata exchange — md5s fold map-side; if a payload/member column
    // survives into the exchange output, the whole point is lost
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, struct, transform}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val recs = (0L until 50L).map(i => (i % 4, i, s"p$i".getBytes("UTF-8")))
      .toDF("shard", "order", "payload")
    val samps = (0L until 50L)
      .map(i => (i % 4, i, Seq((s"$i.txt", s"p$i".getBytes("UTF-8")))))
      .toDF("shard", "order", "members")
      .select(col("shard"), col("order"),
        transform(col("members"), m => struct(m.getField("_1").as("name"),
          m.getField("_2").as("data"))).as("members"))
    Seq(
      "recordManifest" -> graft.multimodal.ShardWriter.recordManifest(recs),
      "sampleManifest" -> graft.multimodal.ShardWriter.sampleManifest(samps)
    ).foreach { case (what, df) =>
      // sparkPlan, not executedPlan: AQE wraps exchanges until runtime
      val exchanges = df.queryExecution.sparkPlan.collect {
        case e: ShuffleExchangeExec => e.output.map(_.name)
      }
      assert(exchanges.nonEmpty, s"$what lost its shard exchange")
      exchanges.foreach { cols =>
        assert(!cols.exists(c => c.startsWith("payload") ||
            c.startsWith("members") || c.startsWith("data")),
          s"$what shuffles payload bytes: ${cols.mkString(", ")}")
      }
      assert(df.queryExecution.sparkPlan.toString.contains("MapPartitions"),
        s"$what lost the streaming digest fold")
    }
  }

  test("unicode audit is one scan-bound lang aggregate") {
    // the normalization runs inside the scan->aggregate pipeline as a
    // codegen expression: no join, no window, ONE hash exchange
    val u = planOf("q_unicode").split("== Initial Plan ==")(0)
    assert(!u.contains("Join") && !u.contains("Window"),
      s"q_unicode must be a single aggregate:\n$u")
    assert("Exchange hashpartitioning".r.findAllIn(u).length == 1,
      s"q_unicode expected exactly one hash exchange:\n$u")
    assert(u.contains("unicode_norm"),
      s"q_unicode lost the native expression:\n$u")
  }
}
