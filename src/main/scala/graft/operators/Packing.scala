package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Greedy sequence packing: assemble documents into fixed-token-budget
  * training sequences — the batch-construction step of every LLM training
  * pipeline (padding waste dies with packing). Documents are walked in
  * deterministic `doc_id` order within a (stratum, shard) chain; each doc
  * lands at the current fill offset, and a doc that would overflow the
  * budget starts the next pack (a doc longer than the whole budget gets a
  * pack to itself). Output: one row per doc with its `(pack_id,
  * pack_offset)` coordinates — the materialization step that concatenates
  * token streams reads this table, it is never stored wide.
  *
  * Scale shape: greedy packing is inherently sequential — each decision
  * depends on the running fill — so the parallel unit is the chain, not the
  * row. Chains are (stratum × shard): `shards` is the knob that bounds
  * chain length at corpus scale (hash-derived, so assignment is
  * deterministic and engine-reproducible like [[Sampling]]'s splits — no
  * RNG, no stored shard table). One shuffle on the chain key; each chain
  * streams through a sorted-group iterator carrying O(1) state, never a
  * collected buffer. 100 TB with shards sized to ~executor-core count packs
  * in one pass.
  */
object Packing {

  // not `private`: Catalyst's generated (de)serializers construct these
  // from codegen'd classes, which cannot access private members
  case class DocLen(doc_id: Long, stratum: String, shard: Long,
      n_tokens: Long)
  case class Packed(doc_id: Long, stratum: String, shard: Long,
      pack_id: Long, pack_offset: Long, n_tokens: Long)

  /** Pack `docs` (needs `doc_id`, `text`) greedily into `budget`-token
    * sequences per (stratum, shard) chain. Token count is the whitespace
    * tokenization ([[graft.text.TextAnalysis.wsTokens]] — swap in the
    * BPE-ish count from `stats` when packing for a real tokenizer). */
  def packGreedy(docs: DataFrame, budget: Int, shards: Int = 1,
      stratum: Column = col("lang"), salt: String = "pack0"): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    require(shards > 0, s"shards must be positive: $shards")
    val spark = docs.sparkSession
    import spark.implicits._
    val sized = docs.select(
      col("doc_id").cast("long").as("doc_id"),
      stratum.cast("string").as("stratum"),
      (graft.text.TextAnalysis.md5Int32(
        concat(lit(s"$salt:"), col("doc_id").cast("string"))) % shards)
        .cast("long").as("shard"),
      size(graft.text.TextAnalysis.wsTokens(col("text"))).cast("long")
        .as("n_tokens"))
      .as[DocLen]
    sized
      .groupByKey(d => (d.stratum, d.shard))
      .flatMapSortedGroups($"doc_id".asc) { case ((stratum, shard), it) =>
        // O(1) chain state: current pack ordinal and its token fill
        var pack = 0L
        var fill = 0L
        it.map { d =>
          if (fill > 0 && fill + d.n_tokens > budget) { pack += 1; fill = 0 }
          val off = fill
          fill += d.n_tokens
          Packed(d.doc_id, stratum, shard, pack, off, d.n_tokens)
        }
      }
      .toDF()
  }

  /** Concat-and-chunk example coordinates: the GPT-style pretraining
    * batcher — the whole corpus is one token stream in `doc_id` order,
    * cut into fixed `seqLen`-token training examples that CROSS document
    * boundaries (no padding, no per-doc truncation; the complement of
    * [[packGreedy]], which never splits a doc). Output is one row per doc
    * with its stream coordinates: `cum_start` (first token's global
    * offset), `first_example`/`last_example` (the example indices its
    * tokens land in) and `n_examples` spanned — the materialization step
    * that emits example tensors range-joins token slices on these
    * coordinates, so the wide token stream itself is never shuffled.
    *
    * Scale shape: the global running token sum is the classic prefix-sum
    * trap — `sum() OVER (ORDER BY doc_id)` is a single-partition window.
    * Decomposed instead like [[Sampling.epochOrder]]'s rank: `doc_id`
    * range-buckets (bucket order IS stream order), per-bucket token
    * totals (≤ `buckets` rows — driver-bounded metadata) fold into
    * cumulative offsets broadcast as a map literal, and each row's prefix
    * is `offset(bucket) + running sum within its bucket` — one keyed
    * shuffle, a streaming ROWS-frame window per bucket, perfectly
    * parallel across buckets. `buckets` scales with the cluster. */
  def concatChunk(docs: DataFrame, seqLen: Int, buckets: Int = 64,
      tokens: Column = size(graft.text.TextAnalysis.wsTokens(col("text")))
  ): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive: $seqLen")
    require(buckets > 0, s"buckets must be positive: $buckets")
    val sized = docs.select(col("doc_id").cast("long").as("doc_id"),
      tokens.cast("long").as("n_tokens"))
    val maxId = sized.agg(max(col("doc_id"))).collect()(0)
    if (maxId.isNullAt(0))
      return sized.withColumn("cum_start", lit(0L))
        .withColumn("first_example", lit(0L))
        .withColumn("last_example", lit(0L))
        .withColumn("n_examples", lit(0L))
    // ceil-div span so bucket ids stay inside [0, buckets)
    val span = math.max(1L, (maxId.getLong(0) + buckets.toLong) / buckets.toLong)
    val withB = sized.withColumn("__cb", expr(s"doc_id div ${span}L"))
    val bucketSums = withB.groupBy(col("__cb"))
      .agg(sum(col("n_tokens")).as("t")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = bucketSums.map(_._1)
      .zip(bucketSums.scanLeft(0L)(_ + _._2).init).toMap
    val w = Window.partitionBy(col("__cb")).orderBy(col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withB
      .withColumn("__cum_end",
        element_at(typedlit(offsets), col("__cb")) + sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("n_tokens"),
        (col("__cum_end") - col("n_tokens")).as("cum_start"),
        // `div`, not `/`: long division must stay exact past 2^53
        expr(s"(__cum_end - n_tokens) div ${seqLen}L").as("first_example"),
        expr(s"(__cum_end - 1) div ${seqLen}L").as("last_example"))
      .withColumn("n_examples",
        col("last_example") - col("first_example") + 1)
  }

  /** Balanced shard assignment, LPT-snake: documents sorted by descending
    * token count are dealt across `shards` shards in a boustrophedon
    * (snake) pattern — shard 0..S-1 on even passes, S-1..0 on odd — the
    * classic longest-processing-time approximation that keeps per-shard
    * token totals within one document of each other without any running
    * state. This is the shard-construction step before [[packGreedy]]
    * when shards must be SIZE-balanced (hash sharding balances counts,
    * not tokens — one shard of books vs one of tweets).
    *
    * Scale shape: the naive formulation is `row_number()` over a global
    * order — a single-partition window that dies at corpus scale. Here
    * the global rank is decomposed: a token-length histogram (one row per
    * DISTINCT length — metadata-sized, ~1e4 rows for real corpora since
    * lengths are bounded) carries the cumulative count of strictly-longer
    * docs through one small-table window, is broadcast back, and the
    * within-length tiebreak rank is a `doc_id`-ordered window PARTITIONED
    * by length — a keyed shuffle, never a global sort. Deterministic:
    * (n_tokens desc, doc_id asc) is a total order, no RNG. */
  def shardBalance(docs: DataFrame, shards: Int,
      tokens: Column = size(graft.text.TextAnalysis.wsTokens(col("text")))
  ): DataFrame = {
    require(shards > 0, s"shards must be positive: $shards")
    val s = shards.toLong
    val sized = docs.select(col("doc_id").cast("long").as("doc_id"),
      tokens.cast("long").as("n_tokens"))
    val before = sized.groupBy(col("n_tokens")).agg(count(lit(1)).as("cnt"))
      .withColumn("before", coalesce(
        sum(col("cnt")).over(Window.orderBy(col("n_tokens").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("n_tokens"), col("before"))
    val rn = col("before") +
      row_number().over(
        Window.partitionBy(col("n_tokens")).orderBy(col("doc_id").asc)) - 1
    val pass = floor(rn / s).cast("long")
    val pos = pmod(rn, lit(s))
    sized.join(broadcast(before), "n_tokens")
      .select(col("doc_id"), col("n_tokens"),
        when(pmod(pass, lit(2L)) === 0, pos)
          .otherwise(lit(s) - 1 - pos).cast("long").as("shard"))
  }

  /** Null-safe token length: a null text (null `size(split(...))`, or the
    * legacy −1 sentinel `size` can emit for null arrays) becomes an exact
    * 0-length document INSTEAD of a null histogram key. The bucket
    * boundaries below ride `ORDER BY len` windows, and null ordering
    * defaults DIVERGE across engines (Spark ASC is NULLS FIRST, DuckDB is
    * NULLS LAST) — one null-text doc would silently shift every cumulative
    * `bef` count on one side only. Pinning nulls to 0 keeps the plan
    * engine-reproducible by construction; the oracles COALESCE the same
    * way. */
  private def normLen(tokens: Column): Column =
    greatest(coalesce(tokens.cast("long"), lit(0L)), lit(0L))

  /** Length-bucketed batching plan — the DECISION table the
    * [[graft.text.TextAnalysis.paddingWaste]] measurement sizes: split
    * the corpus into `buckets` equal-count length buckets, pad each
    * bucket to its own cap, and report per bucket the cap, the batch
    * size a `budget`-token batch holds at that cap, and the projected
    * waste against the single-bucket baseline (everything padded to the
    * global max) — measurement → decision, the table a pipeline owner
    * feeds back into the batcher config.
    *
    * Bucket boundaries come from the decomposed global rank (the
    * [[shardBalance]] discipline): a distinct-length histogram carries
    * cumulative counts through one small-table window and every length
    * class maps whole into `bucket = cumBefore·buckets div n` — all
    * docs of one length share a bucket, so the plan is deterministic
    * and engine-reproducible with no RNG and no global row sort.
    * Integer-exact except `waste_frac` (one guarded division);
    * `batch_docs` is NULL for an all-empty bucket (cap 0 fits no
    * batching) rather than an ANSI division error.
    *
    * Scale: one corpus scan reduces to the metadata-sized histogram
    * (token lengths are bounded in practice); windows and the bucket
    * aggregate run over that bounded table. The corpus never
    * shuffles. The `Window.orderBy(len)` windows have no partition key,
    * so Spark runs them in one partition (its WindowExec warning), over
    * exactly one row per distinct normalised length — k rows for a corpus
    * of k distinct lengths, whatever its document count (pinned by
    * PackingSpec). */
  def paddingPlan(docs: DataFrame, buckets: Int, budget: Long,
      tokens: Column = size(graft.text.TextAnalysis.wsTokens(col("text")))
  ): DataFrame = {
    require(buckets > 0, s"buckets must be positive: $buckets")
    require(budget > 0, s"budget must be positive: $budget")
    val hist = docs.select(normLen(tokens).as("len"))
      .groupBy(col("len")).agg(count(lit(1)).as("cnt"))
    // totals via full-frame windows over the BOUNDED histogram — a
    // 1-row totals aggregate branch would duplicate the corpus subtree
    val all = Window.orderBy(col("len"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val before = Window.orderBy(col("len"))
      .rowsBetween(Window.unboundedPreceding, -1)
    hist
      .withColumn("n", sum(col("cnt")).over(all))
      .withColumn("gcap", max(col("len")).over(all))
      .withColumn("bef", coalesce(sum(col("cnt")).over(before), lit(0L)))
      .withColumn("bucket", expr(s"(bef * ${buckets}L) div n"))
      .groupBy(col("bucket"))
      .agg(max(col("len")).as("cap"),
        sum(col("cnt")).as("docs"),
        sum(col("len") * col("cnt")).as("tokens"),
        max(col("gcap")).as("gcap"))
      .withColumn("batch_docs",
        when(col("cap") > 0, expr(s"${budget}L div cap")))
      .withColumn("padded", col("docs") * col("cap"))
      .withColumn("waste", col("padded") - col("tokens"))
      .withColumn("naive_waste", col("docs") * col("gcap") - col("tokens"))
      .select(col("bucket"), col("cap"), col("docs"), col("tokens"),
        col("batch_docs"), col("waste"),
        when(col("padded") > 0,
          col("waste").cast("double") / col("padded").cast("double"))
          .as("waste_frac"),
        col("naive_waste"),
        (col("naive_waste") - col("waste")).as("saved"))
  }

  /** Execute the [[paddingPlan]] decision: assign every document its
    * plan bucket and its batch ordinal within that bucket — the final
    * (doc → batch) table the batcher materializes tensors from.
    * `batch = rankInBucket div batch_docs` with `batch_docs = budget
    * div cap` from the plan; a bucket whose cap exceeds the budget (or
    * an all-empty cap-0 bucket) emits NULL batches — those docs cannot
    * batch at this budget, surfaced rather than silently truncated.
    *
    * The within-bucket rank is decomposed like [[shardBalance]]'s
    * global rank: per-bucket cumulative counts of strictly-shorter
    * lengths come from the metadata-sized histogram, and the
    * within-length tiebreak is decomposed ONE LEVEL FURTHER against
    * length concentration: docs are striped into `subStride`-wide
    * doc_id sub-ranges (monotone in doc_id, so order is preserved), the
    * (len, sub) histogram carries each stripe's cumulative offset
    * within its length, and the residual tiebreak window partitions by
    * (len, sub) — so even a corpus where 90% of documents share ONE
    * length never puts more than `subStride` rows in a window
    * partition. A plain `partitionBy(len)` window would execute that
    * skew as a single corpus-scale task. The (len, sub) histogram
    * replaces (and derives) the plain length histogram — same number of
    * corpus passes, one keyed exchange serving both the offsets join
    * and the tiebreak window. Deterministic: (len, doc_id) is a total
    * order, no RNG — identical output to the undecomposed rank by
    * construction (PackingSpec pins it on a 90%-one-length corpus). */
  def paddingApply(docs: DataFrame, buckets: Int, budget: Long,
      tokens: Column = size(graft.text.TextAnalysis.wsTokens(col("text"))),
      subStride: Long = 4096L): DataFrame = {
    require(buckets > 0, s"buckets must be positive: $buckets")
    require(budget > 0, s"budget must be positive: $budget")
    require(subStride > 0, s"subStride must be positive: $subStride")
    // floor-division stripe (pmod keeps it exact for negative ids):
    // monotone nondecreasing in doc_id, so within-length order splits
    // cleanly into (stripe offset) + (rank within stripe)
    val sized = docs.select(col("doc_id").cast("long").as("doc_id"),
      normLen(tokens).as("len"))
      .withColumn("sub",
        expr(s"(doc_id - pmod(doc_id, ${subStride}L)) div ${subStride}L"))
    val h2 = sized.groupBy(col("len"), col("sub")).agg(count(lit(1)).as("cnt2"))
    val hist = h2.groupBy(col("len")).agg(sum(col("cnt2")).as("cnt"))
    val all = Window.orderBy(col("len"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val before = Window.orderBy(col("len"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val b = hist
      .withColumn("n", sum(col("cnt")).over(all))
      .withColumn("bef", coalesce(sum(col("cnt")).over(before), lit(0L)))
      .withColumn("bucket", expr(s"(bef * ${buckets}L) div n"))
    val plan = b.groupBy(col("bucket")).agg(max(col("len")).as("cap"))
      .withColumn("batch_docs",
        when(col("cap") > 0, expr(s"${budget}L div cap")))
    val befInBucket = Window.partitionBy(col("bucket")).orderBy(col("len"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val lenToBucket = b
      .withColumn("bef_b", coalesce(sum(col("cnt")).over(befInBucket), lit(0L)))
      .select(col("len"), col("bucket"), col("bef_b"))
    // per-(len, stripe) offset of strictly-earlier stripes of the same
    // length — histogram-sized window, never corpus rows
    val befSub = Window.partitionBy(col("len")).orderBy(col("sub"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val subOff = h2
      .withColumn("bef_s", coalesce(sum(col("cnt2")).over(befSub), lit(0L)))
      .select(col("len"), col("sub"), col("bef_s"))
    // residual tiebreak: bounded to <= subStride rows per partition
    val rankInStripe = row_number().over(
      Window.partitionBy(col("len"), col("sub")).orderBy(col("doc_id")))
      .cast("long")
    sized.join(subOff, Seq("len", "sub"))
      .withColumn("rank_l", col("bef_s") + rankInStripe)
      .join(broadcast(lenToBucket), "len")
      .withColumn("rank_b", col("bef_b") + col("rank_l") - 1L)
      .join(broadcast(plan), "bucket")
      .select(col("doc_id"), col("bucket"), col("cap"),
        when(col("batch_docs") >= 1,
          expr("rank_b div batch_docs")).as("batch"))
  }

  /** [[paddingApply]] ⨝ [[shardBalance]] in ONE decision pass:
    * `(doc_id, bucket, batch, shard)` — value-identical to
    * `paddingApply(docs,...).join(shardBalance(docs,...), "doc_id")` for
    * corpora with NON-NULL, non-negative token counts (PackingSpec pins
    * the equivalence, including a 90%-one-length corpus). Both operators
    * decompose the SAME global (len, doc_id) rank over the same
    * metadata-sized length histogram; composing them re-scans the corpus
    * and pays a second doc_id-keyed join for nothing. Here the corpus
    * reduces once to the (len, stripe) histogram, the within-length rank
    * is computed once, and the bucket/batch (ascending-length cumulative)
    * and LPT-snake shard (descending-length cumulative) decisions both
    * derive from it — one corpus scan, one keyed exchange, zero extra
    * doc_id joins (the caller attaches the ONE decision table to its
    * payload rows).
    *
    * Null/negative token counts fail the query (`raise_error` in the
    * scan's projection — no extra job): paddingApply normalizes them to 0
    * ([[normLen]]) while shardBalance standalone DROPS null-token docs at
    * its histogram join, so the fusion has no answer that matches the
    * composition there — callers with such token counts must keep the
    * composed form. */
  def batchAndShard(docs: DataFrame, buckets: Int, budget: Long,
      shards: Int, tokens: Column, subStride: Long = 4096L): DataFrame = {
    require(buckets > 0, s"buckets must be positive: $buckets")
    require(budget > 0, s"budget must be positive: $budget")
    require(shards > 0, s"shards must be positive: $shards")
    require(subStride > 0, s"subStride must be positive: $subStride")
    val s = shards.toLong
    val sized = docs.select(col("doc_id").cast("long").as("doc_id"),
      when(tokens.isNull || tokens < 0, raise_error(lit(
        "batchAndShard: null or negative token count (use paddingApply ⨝ shardBalance)")))
        .otherwise(tokens.cast("long")).as("len"))
      .withColumn("sub",
        expr(s"(doc_id - pmod(doc_id, ${subStride}L)) div ${subStride}L"))
    val h2 = sized.groupBy(col("len"), col("sub")).agg(count(lit(1)).as("cnt2"))
    val hist = h2.groupBy(col("len")).agg(sum(col("cnt2")).as("cnt"))
    val all = Window.orderBy(col("len"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val before = Window.orderBy(col("len"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // descending cumulative for the LPT rank — same histogram, second
    // full-frame window over metadata-sized rows
    val beforeDesc = Window.orderBy(col("len").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val b = hist
      .withColumn("n", sum(col("cnt")).over(all))
      .withColumn("bef", coalesce(sum(col("cnt")).over(before), lit(0L)))
      .withColumn("bucket", expr(s"(bef * ${buckets}L) div n"))
      .withColumn("before_d",
        coalesce(sum(col("cnt")).over(beforeDesc), lit(0L)))
    val plan = b.groupBy(col("bucket")).agg(max(col("len")).as("cap"))
      .withColumn("batch_docs",
        when(col("cap") > 0, expr(s"${budget}L div cap")))
    val befInBucket = Window.partitionBy(col("bucket")).orderBy(col("len"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val lenMeta = b
      .withColumn("bef_b", coalesce(sum(col("cnt")).over(befInBucket), lit(0L)))
      .select(col("len"), col("bucket"), col("bef_b"), col("before_d"))
    val befSub = Window.partitionBy(col("len")).orderBy(col("sub"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val subOff = h2
      .withColumn("bef_s", coalesce(sum(col("cnt2")).over(befSub), lit(0L)))
      .select(col("len"), col("sub"), col("bef_s"))
    val rankInStripe = row_number().over(
      Window.partitionBy(col("len"), col("sub")).orderBy(col("doc_id")))
      .cast("long")
    // shardBalance's exact snake arithmetic over the SAME within-length
    // rank (rank_l here == its per-length row_number by construction)
    val rn = col("before_d") + col("rank_l") - 1L
    val pass = floor(rn / s).cast("long")
    val pos = pmod(rn, lit(s))
    sized.join(subOff, Seq("len", "sub"))
      .withColumn("rank_l", col("bef_s") + rankInStripe)
      .join(broadcast(lenMeta), "len")
      .withColumn("rank_b", col("bef_b") + col("rank_l") - 1L)
      .join(broadcast(plan), "bucket")
      .select(col("doc_id"), col("bucket"),
        when(col("batch_docs") >= 1,
          expr("rank_b div batch_docs")).as("batch"),
        when(pmod(pass, lit(2L)) === 0, pos)
          .otherwise(lit(s) - 1 - pos).cast("long").as("shard"))
  }

  /** Highest-random-weight (rendezvous) node assignment — Thaler &
    * Ravishankar 1998: each key goes to `argmax_node md5(node ':' key)`,
    * so when membership changes ONLY the keys owned by the departed (or
    * claimed by the arriving) node move — the elastic-membership sharding
    * the md5-ring partitioner (`src/helpers/partition.ts:10-12` hashes to
    * FIXED partition counts) cannot give. Weights reuse the engine's
    * 60-bit md5 ([[graft.text.TextAnalysis.md5Int60]] — native codegen,
    * oracle-reproducible); the argmax is one `greatest()` over |nodes|
    * structs with ties broken on the node name — a pure narrow map fused
    * into the scan: no shuffle, no state, O(|nodes|) per key with the
    * node list living in the plan as literals. */
  def rendezvousAssign(keys: DataFrame, keyCol: String,
      nodes: Seq[String]): DataFrame = {
    require(nodes.nonEmpty, "rendezvousAssign: empty node set")
    require(nodes.distinct.length == nodes.length,
      s"rendezvousAssign: duplicate nodes in $nodes")
    val scored = nodes.map(n => struct(
      graft.text.TextAnalysis.md5Int60(
        concat(lit(n), lit(":"), col(keyCol).cast("string"))).as("w"),
      lit(n).as("node")))
    val best = if (scored.length == 1) scored.head else greatest(scored: _*)
    keys.withColumn("node", best.getField("node")) // appends — chainable
  }
}
