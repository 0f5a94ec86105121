package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** The ONE JSON line the driver parses from stdout. The driver captures
    * only a ~2 KB tail of stdout (four consecutive rounds of BENCH_r*
    * came back `parsed:null` because the full 273-query record is ~6 KB
    * and was cut mid-line), so this line carries the headline total, the
    * query COUNT (proof nothing was dropped), and the `queries` map
    * restricted to the slowest `topK` entries at 2 decimals — the
    * multi-second queries round-over-round comparison actually needs —
    * and shrinks itself until it fits `maxBytes`. The full-precision
    * all-query record goes to the SPARK_GRAFT_BENCH_OUT file, which
    * cannot be cut mid-line. BenchSpec pins the size bound. */
  private[graft] def shortLine(total: Double, results: Seq[(String, Double)],
      sfDir: String, runs: Int, canary: Double, canaryExpected: Double,
      contended: Boolean, contendedQs: Seq[String], floorViol: Seq[String],
      healedN: Int, recordPath: String, topK: Int = 30,
      maxBytes: Int = 1900): String = {
    def r2(v: Double) = if (v < 0) -1.0 else math.rint(v * 100) / 100
    def r3(v: Double) = if (v < 0) -1.0 else math.rint(v * 1000) / 1000
    def strArr(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val slowestAll = results.filter(_._2 >= 0).sortBy(-_._2)
    def build(k: Int): String = {
      val qs = slowestAll.take(k).sortBy(_._1)
        .map { case (n, v) => s"\"$n\":${r2(v)}" }.mkString("{", ",", "}")
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_queries":${results.size},"queries":$qs,"sf":"$sfDir","runs":$runs,"agg":"min","canary_sec":${r3(canary)},"canary_expected":$canaryExpected,"contended":$contended,"contended_queries":${strArr(contendedQs.take(8))},"floor_violations":${strArr(floorViol.take(8))},"healed_n":$healedN,"record":"$recordPath"}"""
    }
    var k = topK
    var line = build(k)
    while (line.getBytes("UTF-8").length > maxBytes && k > 1) {
      k = math.max(1, k - 4); line = build(k)
    }
    line
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // cluster-shape probe: SPARK_GRAFT_SHUFFLE decouples the shuffle
    // partition count from the core count (e.g. 256 partitions on 32
    // cores — the multi-executor fan-out a real cluster would run with),
    // evidence that operator timings don't depend on local[32]'s
    // single-JVM 1:1 partition:core shuffle
    val shuffleParts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffleParts)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // untimed warmup: pay session/JIT/codegen startup once instead of
    // attributing it to whichever query happens to run first, and touch
    // every input table so no timed query absorbs the first cold read of
    // a parquet file (r2 showed the alphabetically-first reader of
    // lineitem eating the page-cache load as a phantom regression)
    try {
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings")
        .foreach(t => spark.read.parquet(s"$sfDir/$t.parquet")
          .write.format("noop").mode("overwrite").save())
      SparkEntry.queries.get("q_last_n")
        .foreach(_(spark, sfDir).write.format("noop").mode("overwrite").save())
    } catch { case _: Throwable => () }
    // noop v2 sink: executes the full plan (all columns materialized, sorts
    // retained) without count()'s column pruning / sort elimination.
    // stable alphabetical execution order: map-hash order shuffled which
    // query followed the heavy store write, making attribution noisy.
    // each query runs twice and reports the min — the first execution of a
    // plan pays its whole-stage-codegen JIT, which is compile-once cost,
    // not per-query cost, and dominated run-to-run variance at sf0.1.
    //
    // contention canary: a fixed, data-independent workload (range-sum of
    // 200M longs across all cores) whose clean min-of-3 on this machine
    // class is ~0.2s. Machine contention — the cause of THREE rounds of
    // inflated official records — inflates it the same way it inflates the
    // real queries. r8 showed endpoint-only canaries are blind to
    // mid-sweep bursts (a co-scheduled Verify run starting after the
    // opening canary and finishing before the closing one inflated
    // q_dedup_incremental 12x under a contended:false stamp), so the
    // canary now runs BETWEEN every query and the record self-reports
    // per-query contention.
    def canaryOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(200000000L).selectExpr("sum(id)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    def canaryMin3(): Double = (1 to 3).map(_ => canaryOnce()).min
    // expected = the observed idle min-of-3 on this machine class (~0.14s),
    // not a padded allowance: a 32-spinner hog on the 32 cores (a
    // co-scheduled driver job's CPU profile, ~50% steal, ~2x query
    // inflation) reads only ~0.3s here, so any padding in the band waves
    // through exactly the contention this exists to catch. Lone clean-
    // machine spikes (GC) are filtered by the min-of-3 confirm below —
    // a confirmed reading over 2x the idle value means genuinely shared
    // cores, not noise.
    val canaryExpected =
      sys.env.getOrElse("SPARK_GRAFT_CANARY_SEC", "0.15").toDouble
    def dirty(c: Double): Boolean = c > 2 * canaryExpected
    // one canary run per inter-query checkpoint (~0.15s each, ~12s across
    // an 80-query sweep); a single run that spikes past the band is
    // re-measured min-of-3 before it is allowed to taint the record, so a
    // lone GC pause doesn't read as machine contention
    def canaryAtPoint(): Double = {
      val c = canaryOnce()
      if (dirty(c)) math.min(c, canaryMin3()) else c
    }
    // per-query floors: committed clean min-of-2 times from an idle run of
    // this same machine class (bench_floors/<sf-basename>.json). A query
    // whose min exceeds 2x its floor is either contended or a genuine
    // regression — re-runs plus the adjacent canaries decide which, and
    // the record names the queries it could not certify instead of
    // stamping a blanket contended:false it cannot back.
    val sfBase = new java.io.File(sfDir).getName
    val floorsPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FLOORS",
      s"/root/repo/bench_floors/$sfBase.json")
    val floorsRaw: Map[String, Double] =
      try {
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(floorsPath)), "UTF-8")
        """"([^"]+)"\s*:\s*(-?[0-9.eE+\-]+)""".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble)
          .filter(_._2 > 0).toMap
      } catch { case _: Throwable => Map.empty }
    // the floors file carries the canary of the window that recorded it
    // (`__canary_sec__`); floors are WINDOW-RELATIVE, not absolute — the
    // r18 files were regenerated on a 1.4x-slow window, which would let a
    // genuine 1.5x regression pass the check on a fast window. Normalize
    // each floor by canary_now/canary_at_floor_time (clamped to [1/3, 3]
    // so one absurd canary reading cannot disable or hair-trigger the
    // whole detector) instead of regenerating floors per window.
    val floorCanary = floorsRaw.getOrElse("__canary_sec__", 0.0)
    val floors: Map[String, Double] =
      floorsRaw.filterNot(_._1.startsWith("__"))
    // 1.6x ratio + absolute slack: the ratio is tight enough that the
    // ~2x inflation of a half-stolen machine triggers a re-run on any
    // multi-second query, while the slack keeps sub-second floors from
    // flagging scheduler jitter (a 0.24s query reading 0.54s is noise,
    // not contention worth re-running)
    val floorSlack =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_FLOOR_SLACK", "0.4").toDouble
    val floorRatio =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_FLOOR_RATIO", "1.6").toDouble
    val canaryBefore = canaryMin3()
    // window-speed normalizer for the committed floors (see above): on a
    // window 1.4x slower than the floors' recording window, floors widen
    // 1.4x; on a faster window they TIGHTEN, so a real regression cannot
    // hide behind a slow-window floor. The window's speed estimate is the
    // MEDIAN canary observed so far: one inflated opening canary (this
    // round's first run read 0.168 against a 0.093 window) must not
    // loosen every floor, and one freak-fast reading (the same sweep
    // later read 0.052 — min-based norm 0.53 falsely flagged a healthy
    // q_store_roundtrip) must not hair-trigger them; the median ignores
    // both tails and converges on the window's true speed within a few
    // inter-query checkpoints.
    val canarySeen = scala.collection.mutable.ArrayBuffer[Double](canaryBefore)
    def floorNorm: Double = {
      val sorted = canarySeen.sorted
      val med = sorted(sorted.size / 2)
      if (floorCanary > 0 && med > 0)
        math.max(1.0 / 3, math.min(3.0, med / floorCanary))
      else 1.0
    }
    def floorBad(name: String, sec: Double): Boolean =
      sec >= 0 && floors.get(name).exists(f =>
        sec > floorRatio * f * floorNorm + floorSlack)
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt
    val perQueryReruns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RERUNS", "2").toInt
    // global re-run budget bounds worst-case sweep inflation when the
    // whole machine is busy (80 queries x 2 re-runs each would triple it)
    var rerunBudget = sys.env.getOrElse("SPARK_GRAFT_BENCH_RERUN_BUDGET", "24").toInt
    var canaryPrev = canaryBefore
    val canaryAt = scala.collection.mutable.LinkedHashMap[String, Double]()
    val reruns = scala.collection.mutable.LinkedHashMap[String, Int]()
    val contendedQs = scala.collection.mutable.ListBuffer[String]()
    val floorViolations = scala.collection.mutable.ListBuffer[String]()
    // SPARK_GRAFT_BENCH_ONLY=q_a,q_b restricts the sweep to a named
    // subset (targeted probes — e.g. the 256-partition cluster-shape run)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      def one(): Option[Double] = {
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          Some((System.nanoTime() - t0) / 1e9) }
        catch { case e: Throwable => System.err.println(s"[bench] $name: $e"); None }
      }
      val times = (1 to runs).map(_ => one())
      var ok = times.flatten.toList
      var anyDirty = dirty(canaryPrev)
      var cHere = canaryAtPoint()
      canarySeen += cHere
      anyDirty ||= dirty(cHere)
      // re-run when the floor says the min is inflated, or — floor-less
      // query — when an adjacent canary says the machine was busy; min-of-
      // more-attempts recovers the clean time once the burst passes
      var extra = 0
      def suspect: Boolean = ok.nonEmpty &&
        (floorBad(name, ok.min) || (floors.get(name).isEmpty && dirty(cHere)))
      while (suspect && extra < perQueryReruns && rerunBudget > 0) {
        extra += 1; rerunBudget -= 1
        one().foreach(t => ok = t :: ok)
        cHere = canaryAtPoint()
        canarySeen += cHere
        anyDirty ||= dirty(cHere)
      }
      if (extra > 0) reruns(name) = extra
      canaryAt(name) = cHere
      canaryPrev = cHere
      val minT = if (ok.nonEmpty) ok.min else -1.0
      if (minT >= 0 && floorBad(name, minT)) {
        // still over 2x floor after re-runs: dirty canaries anywhere in
        // this query's window => contention the record must disclose;
        // clean canaries throughout => a genuine regression, kept as-is
        if (anyDirty) contendedQs += name else floorViolations += name
      } else if (minT >= 0 && floors.get(name).isEmpty && anyDirty)
        contendedQs += name
      // -1 sentinel keeps failures visible in the metrics JSON; "first" is
      // -1 unless run 1 itself succeeded (a warm run must not masquerade
      // as the cold-start time)
      name -> (minT, times.head.getOrElse(-1.0))
    }
    // ---- healing pass -------------------------------------------------
    // The per-query re-runs above recover from TRANSIENT bursts, but a
    // burst that outlives a query's whole re-run window leaves the record
    // flagged even though the machine is idle again by sweep end (the
    // r10 official record shipped contended:true + two phantom floor
    // violations this way, while an immediately-adjacent clean run showed
    // all three flags were co-tenant noise). So before emitting the
    // record, every flagged query is re-measured inside a CERTIFIED
    // window — clean min-of-3 canary before, clean canary after — and a
    // measurement that lands under its floor bound clears the flag. A
    // query still over its floor inside a certified-clean window is a
    // genuine regression and stays flagged; a query that never gets a
    // clean window (machine busy through the whole heal budget) stays
    // contended. The pass discloses itself: healed queries are listed in
    // the record, and the worst canary seen anywhere stays reported.
    val resultsM = scala.collection.mutable.LinkedHashMap(results: _*)
    val healBudgetMs =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_HEAL_MS", "240000").toLong
    val healDeadline = System.nanoTime() + healBudgetMs * 1000000L
    def healTimeLeft: Boolean = System.nanoTime() < healDeadline
    // wait (bounded) for the machine to go idle: clean min-of-3 canary
    def waitCleanWindow(): Option[Double] = {
      var c = canaryMin3()
      while (dirty(c) && healTimeLeft) { Thread.sleep(5000L); c = canaryMin3() }
      if (dirty(c)) None else Some(c)
    }
    val healed = scala.collection.mutable.ListBuffer[String]()
    val healFlagged = (contendedQs ++ floorViolations).toList.distinct
    if (healFlagged.nonEmpty) {
      for (name <- healFlagged) {
        val fn = SparkEntry.queries(name)
        def oneHeal(): Option[Double] = {
          val t0 = System.nanoTime()
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            Some((System.nanoTime() - t0) / 1e9) }
          catch { case e: Throwable =>
            System.err.println(s"[bench-heal] $name: $e"); None }
        }
        var attempts = 0
        var cleared = false
        var sawCleanWindow = false
        while (!cleared && attempts < 3 && healTimeLeft &&
            waitCleanWindow().isDefined) {
          attempts += 1
          val t = oneHeal()
          val cAfter = canaryAtPoint()
          if (!dirty(cAfter)) {
            sawCleanWindow = true
            t.foreach { sec =>
              val (oldMin, first) = resultsM(name)
              val newMin = if (oldMin < 0) sec else math.min(oldMin, sec)
              resultsM(name) = (newMin, first)
              if (!floorBad(name, newMin)) cleared = true
            }
            // floor-less queries were flagged only for canary adjacency:
            // one certified-clean measurement clears them
            if (t.isDefined && floors.get(name).isEmpty) cleared = true
          }
        }
        if (cleared) {
          healed += name
          contendedQs -= name
          floorViolations -= name
        } else if (sawCleanWindow && floorBad(name, resultsM(name)._1)) {
          // certified-clean window, still over floor: genuine regression
          contendedQs -= name
          if (!floorViolations.contains(name)) floorViolations += name
        } // else: never saw a clean window — contended flag stands
      }
    }
    val results2 = resultsM.toSeq
    def obj(sel: ((Double, Double)) => Double) = results2
      .map { case (k, v) => s"\"" + k + "\":" + sel(v) }.mkString("{", ",", "}")
    // the driver captures only a ~2 KB tail of stdout (BENCH_r05 and r06
    // both came back parsed:null because the printed line outgrew it), so
    // stdout gets the minimal record — min-of-runs per query, rounded to
    // ms — and the full-precision record with first-run times and the
    // per-query canary/re-run trace goes to the file, which cannot be cut
    // mid-line
    def ms(v: Double) = if (v < 0) -1.0 else math.rint(v * 1000) / 1000
    def strArr(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results2.map(_._2._1).filter(_ >= 0).sum
    // closing canary certifies the FINAL state: if the machine is busy at
    // this instant, wait (inside the heal budget) for it to go idle — a
    // co-tenant burst that ends before the budget does must not stamp an
    // otherwise-certified record contended
    val canaryAfter = {
      val c = canaryMin3()
      if (dirty(c)) waitCleanWindow().getOrElse(c) else c
    }
    val canaryWorst =
      (canaryAt.values.toSeq :+ canaryBefore :+ canaryAfter).max
    // every query is certified either by its floor (within band after
    // healing) or by a clean adjacent-canary window, so the global
    // verdict is: surviving per-query flags, or a closing canary that
    // never went clean
    val contended = contendedQs.nonEmpty || dirty(canaryAfter)
    val canaryJson =
      s""""canary_sec":${ms(canaryAfter)},"canary_worst":${ms(canaryWorst)},"canary_expected":$canaryExpected,"contended":$contended,"contended_queries":${strArr(contendedQs.toSeq)},"floor_violations":${strArr(floorViolations.toSeq)},"healed":${strArr(healed.toSeq)}"""
    val canaryTrace =
      s""""canary_before":${ms(canaryBefore)},"canary_after":${ms(canaryAfter)},"canary_at":${canaryAt.map { case (k, v) => s"\"$k\":${ms(v)}" }.mkString("{", ",", "}")},"reruns":${reruns.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")},"floors_applied":${floors.size}"""
    // headline stays min-of-runs (first run pays compile-once codegen JIT)
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${obj(_._1)},"first":${obj(_._2)},"sf":"$sfDir","runs":$runs,"agg":"min",$canaryJson,$canaryTrace,"floor_norm":$floorNorm}"""
    val outPath =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json")
    val out = java.nio.file.Paths.get(outPath)
    Option(out.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(out, full.getBytes("UTF-8"))
    // ONE JSON line on stdout, printed LAST, sized to FIT the driver's
    // ~2 KB stdout-tail capture. Four consecutive rounds (r15-r18) of
    // printing the full ~6 KB per-query record here came back
    // `parsed:null` — the tail starts mid-line. The short line keeps the
    // driver contract's shape ({"metric","value","unit","queries","sf"})
    // with `queries` restricted to the slowest entries and `n_queries`
    // proving all queries ran; every query's full-precision time is in
    // the record file written above.
    println(shortLine(total, results2.map { case (k, v) => k -> v._1 },
      sfDir, runs, canaryAfter, canaryExpected, contended,
      contendedQs.toSeq, floorViolations.toSeq, healed.size, outPath))
    spark.stop()
  }
}
