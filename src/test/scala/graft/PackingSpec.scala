package graft

import org.apache.spark.sql.functions._

import graft.operators.Packing

class PackingSpec extends SparkSpec {

  private def docsOf(rows: (Long, String, String)*) = {
    val s = spark
    import s.implicits._
    rows.toSeq.toDF("doc_id", "text", "lang")
  }

  // word counts: doc 1 = 3 tokens, 2 = 4, 3 = 2, 4 = 9 (over budget), 5 = 1
  private val docs = docsOf(
    (1L, "a b c", "en"),
    (2L, "d e f g", "en"),
    (3L, "h i", "en"),
    (4L, "j k l m n o p q r", "en"),
    (5L, "s", "en"))

  test("greedy fill: docs pack in id order, overflow starts the next pack") {
    // budget 8, one chain: [1(3) 2(4)] fill 7; 3(2) overflows -> pack 1:
    // [3(2)] fill 2; 4(9) overflows -> pack 2 alone (longer than budget);
    // 5(1) overflows pack 2 (9 > 8 already) -> pack 3
    val out = Packing.packGreedy(docs, budget = 8, shards = 1)
      .orderBy("doc_id")
      .select("doc_id", "pack_id", "pack_offset", "n_tokens")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, 0L, 0L, 3L),
      (2L, 0L, 3L, 4L),
      (3L, 1L, 0L, 2L),
      (4L, 2L, 0L, 9L),
      (5L, 3L, 0L, 1L)))
  }

  test("chains are (stratum, hash-shard): strata never share a pack") {
    val mixed = docsOf(
      (1L, "a b c", "en"), (2L, "d e", "de"),
      (3L, "f g h", "en"), (4L, "i j", "de"))
    val out = Packing.packGreedy(mixed, budget = 100, shards = 1)
      .select("stratum", "pack_id", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // everything fits one pack per stratum; packs never mix strata
    assert(out.groupBy(_._1).view.mapValues(_.map(_._2).distinct.length)
      .toMap == Map("en" -> 1, "de" -> 1))
    // deterministic: same input -> identical assignment on a second run
    val again = Packing.packGreedy(mixed, budget = 100, shards = 1)
      .select("stratum", "pack_id", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.sortBy(_._3).toSeq == again.sortBy(_._3).toSeq)
  }

  test("shards split a stratum deterministically and pack independently") {
    val out = Packing.packGreedy(docs, budget = 8, shards = 4)
      .select("doc_id", "shard").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // shard = md5('pack0:' || doc_id) % 4 — pinned so either engine (and
    // any future run) reproduces the same chains
    assert(out.values.forall(s => s >= 0 && s < 4))
    val again = Packing.packGreedy(docs, budget = 8, shards = 4)
      .select("doc_id", "shard").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == again)
    // offsets within every chain still start at 0 and never exceed budget
    // unless the doc itself does
    val rows = Packing.packGreedy(docs, budget = 8, shards = 4)
      .select("pack_offset", "n_tokens").collect()
    rows.foreach { r =>
      assert(r.getLong(0) == 0L || r.getLong(0) + r.getLong(1) <= 8L)
    }
  }

  test("invalid budget/shards rejected") {
    intercept[IllegalArgumentException](Packing.packGreedy(docs, budget = 0))
    intercept[IllegalArgumentException](
      Packing.packGreedy(docs, budget = 8, shards = 0))
    intercept[IllegalArgumentException](Packing.shardBalance(docs, shards = 0))
  }

  test("shardBalance: snake order over descending token counts") {
    // token counts: 4(9) 2(4) 1(3) 3(2) 5(1); S=2 snake passes:
    // pass0 fwd -> 4:s0 2:s1; pass1 rev -> 1:s1 3:s0; pass2 fwd -> 5:s0
    val out = Packing.shardBalance(docs, shards = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq(
      (1L, 3L, 1L), (2L, 4L, 1L), (3L, 2L, 0L), (4L, 9L, 0L), (5L, 1L, 0L)))
    // the balance the snake buys: totals 12 vs 7 (hash sharding on these
    // ids can do no better than luck; LPT bounds the gap by one doc)
    val totals = out.groupBy(_._3).view.mapValues(_.map(_._2).sum).toMap
    assert(totals == Map(0L -> 12L, 1L -> 7L))
  }

  test("shardBalance: equal-length ties break by doc_id, assignment is total") {
    val tied = docsOf((1L, "a b", "en"), (2L, "c d", "en"),
      (3L, "e f", "en"), (4L, "g h", "en"), (5L, "i j", "en"))
    val out = Packing.shardBalance(tied, shards = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq
    // rn = doc_id order: pass0 fwd 0,1,2; pass1 rev 2,1
    assert(out == Seq((1L, 0L), (2L, 1L), (3L, 2L), (4L, 2L), (5L, 1L)))
    // every doc assigned exactly once, shards within range
    assert(out.map(_._1).distinct.length == 5)
    assert(out.map(_._2).forall(s => s >= 0 && s < 3))
  }

  test("concatChunk: stream coordinates match the naive prefix sum") {
    // token stream in doc_id order: 3,4,2,9,1 -> cum_start 0,3,7,9,18
    // seqLen 4: doc1 toks [0,3) ex 0; doc2 [3,7) ex 0; doc3 [7,9) ex 1..2;
    // doc4 [9,18) ex 2..4; doc5 [18,19) ex 4
    val out = Packing.concatChunk(docs, seqLen = 4, buckets = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("cum_start"),
        r.getAs[Long]("first_example"), r.getAs[Long]("last_example"),
        r.getAs[Long]("n_examples"))).toSeq
    assert(out == Seq(
      (1L, 0L, 0L, 0L, 1L), (2L, 3L, 0L, 1L, 2L), (3L, 7L, 1L, 2L, 2L),
      (4L, 9L, 2L, 4L, 3L), (5L, 18L, 4L, 4L, 1L)))
  }

  test("concatChunk: bucket decomposition is invariant in bucket count") {
    val s = spark
    import s.implicits._
    val many = (0L until 200L)
      .map(i => (i, ("w " * (1 + (i % 13).toInt)).trim, "en"))
      .toDF("doc_id", "text", "lang")
    def run(b: Int) = Packing.concatChunk(many, seqLen = 32, buckets = b)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("cum_start"),
        r.getAs[Long]("first_example"), r.getAs[Long]("last_example"))).toSeq
    val one = run(1) // single bucket == the naive global window
    assert(run(8) == one && run(64) == one)
    // contiguity: each doc starts where the previous ended
    val byId = run(8)
    byId.sliding(2).foreach { case Seq(a, b) =>
      val aTokens = 1 + (a._1 % 13)
      assert(b._2 == a._2 + aTokens)
    case _ => }
  }

  test("concatChunk: invalid params rejected, empty input empty output") {
    intercept[IllegalArgumentException] {
      Packing.concatChunk(docs, seqLen = 0)
    }
    assert(Packing.concatChunk(docs.limit(0), seqLen = 8).count() == 0L)
  }

  test("rendezvousAssign: minimal disruption on membership change, deterministic") {
    val s = spark
    import s.implicits._
    val keys = (0L until 100L).toDF("k")
    val n3 = Seq("node-a", "node-b", "node-c")
    val before = Packing.rendezvousAssign(keys, "k", n3)
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("node")).toMap
    val after = Packing.rendezvousAssign(keys, "k", n3.filterNot(_ == "node-c"))
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("node")).toMap
    // every node owns something under 3-node membership
    assert(before.values.toSet == n3.toSet)
    // the defining HRW property: keys NOT on the departed node never move
    before.foreach { case (k, n) =>
      if (n != "node-c") assert(after(k) == n, s"key $k moved $n -> ${after(k)}")
      else assert(after(k) != "node-c")
    }
    // deterministic: a second evaluation is identical
    val again = Packing.rendezvousAssign(keys, "k", n3)
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("node")).toMap
    assert(again == before)
    // single-node membership degenerates to that node; contracts enforced
    assert(Packing.rendezvousAssign(keys, "k", Seq("only"))
      .select("node").distinct().collect().map(_.getString(0)).toSeq == Seq("only"))
    intercept[IllegalArgumentException](
      Packing.rendezvousAssign(keys, "k", Seq.empty))
    intercept[IllegalArgumentException](
      Packing.rendezvousAssign(keys, "k", Seq("a", "a")))
  }

  test("paddingPlan: equal-count buckets, hand-computed caps and waste") {
    val s = spark
    import s.implicits._
    // lengths 1,1,2,3,100 -> with buckets=2: lengths {1,2} land in
    // bucket 0 (cumBefore 0,2 of 5), {3,100} in bucket 1 (3,4 of 5)
    val docs = Seq(1, 1, 2, 3, 100)
      .map(n => Seq.fill(n)("w").mkString(" "))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = Packing.paddingPlan(docs, buckets = 2, budget = 10L)
      .orderBy("bucket").collect()
      .map(r => (r.getAs[Long]("bucket"), r.getAs[Long]("cap"),
        r.getAs[Long]("docs"), r.getAs[Long]("tokens"),
        r.getAs[Long]("batch_docs"), r.getAs[Long]("waste"),
        r.getAs[Double]("waste_frac"), r.getAs[Long]("naive_waste"),
        r.getAs[Long]("saved")))
    // bucket 0: cap 2, 3 docs, 4 tokens -> padded 6, waste 2, 5 docs per
    // 10-token batch; vs global cap 100: naive 296, saved 294
    // bucket 1: cap 100, 2 docs, 103 tokens -> waste 97, batch_docs 0,
    // saved 0 (this bucket IS the global cap)
    assert(got.toSeq == Seq(
      (0L, 2L, 3L, 4L, 5L, 2L, 2.0 / 6.0, 296L, 294L),
      (1L, 100L, 2L, 103L, 0L, 97L, 97.0 / 200.0, 97L, 0L)),
      got.mkString(","))
  }

  test("paddingPlan: the single-partition length window reads one row per " +
      "distinct length") {
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    val k = 7
    val docs = spark.range(12000)
      .select(col("id").as("doc_id"), (col("id") % k + 1).as("len_in"))
    val plan = Packing.paddingPlan(docs, buckets = 3, budget = 100L,
      tokens = col("len_in"))
    assert(plan.collect().map(_.getAs[Long]("docs")).sum == 12000L)
    val helper = new AdaptiveSparkPlanHelper {}
    val executed = plan.queryExecution.executedPlan
    assert(helper.find(executed)(_.isInstanceOf[WindowExec]).isDefined)
    // the rows the windows' one single-partition exchange carried
    val fed = helper.collect(executed) {
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition =>
        e.metrics("shuffleRecordsWritten").value
    }
    assert(fed == Seq(k.toLong), fed)
  }

  test("paddingApply: plan buckets executed to (doc, batch); unbatchable docs NULL") {
    val s = spark
    import s.implicits._
    // same corpus as the plan test; budget 4 so bucket 0 (cap 2) holds 2
    // docs per batch: ranks 0,1 -> batch 0, rank 2 -> batch 1. Bucket 1's
    // cap 100 exceeds the budget entirely -> NULL batches, not silence.
    val docs = Seq(1, 1, 2, 3, 100)
      .map(n => Seq.fill(n)("w").mkString(" "))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = Packing.paddingApply(docs, buckets = 2, budget = 4L)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("bucket"),
        r.getAs[Long]("cap"),
        if (r.isNullAt(r.fieldIndex("batch"))) -1L else r.getAs[Long]("batch")))
    assert(got.toSeq == Seq(
      (0L, 0L, 2L, 0L), (1L, 0L, 2L, 0L), (2L, 0L, 2L, 1L),
      (3L, 1L, 100L, -1L), (4L, 1L, 100L, -1L)),
      got.mkString(","))
  }

  test("paddingApply: 90%-one-length skew splits across stripes, same assignment") {
    val s = spark
    import s.implicits._
    // 45 of 50 docs share ONE length (3 tokens) — the concentration that
    // would execute a partitionBy(len) tiebreak as a single task. A
    // subStride of 8 forces the hot length across ceil(50/8) stripes.
    val docs = (0 until 50).map { i =>
      val n = if (i < 45) 3 else (i - 43) * 2
      (i.toLong, Seq.fill(n)("w").mkString(" "))
    }.toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("bucket"), r.getAs[Long]("cap"),
        if (r.isNullAt(r.fieldIndex("batch"))) -1L else r.getAs[Long]("batch"))).toSeq
    val striped = Packing.paddingApply(docs, buckets = 2, budget = 9L,
      subStride = 8L)
    // reference: subStride wider than any id = one stripe = the plain
    // undecomposed within-length rank
    val plain = Packing.paddingApply(docs, buckets = 2, budget = 9L,
      subStride = Long.MaxValue)
    assert(rows(striped) == rows(plain))
    // plan contract: the residual tiebreak window partitions by
    // (len, sub), never by len alone — the skew can't serialize
    val plan = striped.queryExecution.executedPlan.toString
    assert("windowspecdefinition\\(len#\\d+L?, sub#".r
      .findFirstIn(plan).isDefined,
      s"expected a (len, sub)-partitioned tiebreak window:\n$plan")
    assert(!"windowspecdefinition\\(len#\\d+L?, doc_id#".r
      .findFirstIn(plan).isDefined,
      "found a len-only-partitioned doc window (the skew hazard)")
  }

  test("batchAndShard == paddingApply ⨝ shardBalance, incl. one-length skew") {
    val s = spark
    import s.implicits._
    // mixed corpus: a hot length (60% of docs), sparse long docs, len-0
    // docs, ids out of order and past one stripe
    val docs = (0 until 120).map { i =>
      val n = if (i % 5 < 3) 4 else if (i % 5 == 3) i % 17 else 0
      (i.toLong * 7 % 251, Seq.fill(n)("w").mkString(" "))
    }.toDF("doc_id", "text")
    for (shards <- Seq(1, 3, 7); buckets <- Seq(1, 2, 5)) {
      val composed = Packing
        .paddingApply(docs, buckets = buckets, budget = 9L, subStride = 8L)
        .select(col("doc_id"), col("bucket"), col("batch"))
        .join(Packing.shardBalance(docs, shards = shards)
          .select(col("doc_id"), col("shard")), "doc_id")
      val fused = Packing.batchAndShard(docs, buckets = buckets,
        budget = 9L, shards = shards,
        tokens = size(graft.text.TextAnalysis.wsTokens(col("text"))),
        subStride = 8L)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("doc_id").collect().map(r => (r.getAs[Long]("doc_id"),
          r.getAs[Long]("bucket"),
          if (r.isNullAt(r.fieldIndex("batch"))) -1L else r.getAs[Long]("batch"),
          r.getAs[Long]("shard"))).toSeq
      assert(rows(fused) == rows(composed),
        s"fusion drifted at shards=$shards buckets=$buckets")
    }
  }

  test("batchAndShard fails the query on a null or negative token count") {
    val s = spark
    import s.implicits._
    def docs(n: Option[Int]) = Seq((1L, Option(3)), (2L, n)).toDF("doc_id", "n")
    def fused(n: Option[Int]) = Packing.batchAndShard(docs(n),
      buckets = 2, budget = 9L, shards = 2, tokens = col("n"))
    // the fusion has no answer equal to paddingApply ⨝ shardBalance for
    // these (one normalizes to 0, the other drops null), so it refuses
    for (bad <- Seq(None, Some(-1))) {
      val e = intercept[Exception](fused(bad).collect())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
      assert(msgs.exists(_.contains("null or negative token count")), e.toString)
    }
    assert(fused(Some(0)).count() == 2L)
  }
}
