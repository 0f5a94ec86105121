package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one run measured and checked. `metrics` holds the end-to-end
  * metrics on an untraced run and the per-layer metrics on a traced one;
  * `report` holds each workload's named figures, printed by name. */
final class Result {
  var attempted = 0L
  val failedOps = mutable.LinkedHashMap[String, Long]()
  val problems = mutable.ArrayBuffer[String]()
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val report = mutable.LinkedHashMap[String, (Double, String)]()
  val notes = mutable.ArrayBuffer[String]()

  def failed: Long = failedOps.values.sum

  /** Count `n` failed operations under `what`, keeping a few examples. */
  def fail(what: String, n: Long, examples: Seq[String] = Nil): Unit = if (n > 0) {
    failedOps(what) = failedOps.getOrElse(what, 0L) + n
    if (problems.size < 20) problems ++= examples.take(3).map(e => s"$what: $e")
  }
}

/** Workload driver: `--workload <name> --seed <n> --seconds <s> --trace
  * <0|1> --dir <scratch dir> --out <result json>`. Runs one workload
  * in-process against the engine's public API on Spark `local[4]` and
  * writes its result as JSON to `--out` (the runner prints it). */
object Main {

  val Cores = 4

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val dir = Paths.get(opts("dir")).toAbsolutePath
    val run: (SparkSession, Long, Int, Option[Trace], Path, Result) => Unit = workload match {
      case "live_publish"    => LivePublish.run
      case "resend_mix"      => ResendMix.run
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    Files.createDirectories(dir)
    val spark = session(dir)
    val result = new Result
    try {
      phase("session")
      val canaryBefore = canary(spark)
      phase("canary")
      val trace = if (traced) Some(new Trace(spark)) else None
      run(spark, seed, seconds, trace, dir, result)
      trace.foreach { t => t.stop(); t.write(dir.resolve("trace.jsonl")) }
      phase("checked")
      val canaryAfter = canary(spark)
      result.report("canary_before_ms") = (canaryBefore, "ms")
      result.report("canary_after_ms") = (canaryAfter, "ms")
      // the same fixed CPU job before and after: a much slower second read
      // means other work shared the cores during the run
      if (canaryAfter > 1.5 * canaryBefore)
        result.notes += f"contended: CPU canary ${canaryBefore}%.0f ms before, ${canaryAfter}%.0f ms after"
    } finally spark.stop()
    Files.writeString(Paths.get(opts("out")), Json.result(result))
  }

  def session(dir: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Log a phase boundary with seconds since JVM start (to the run log). */
  def phase(name: String): Unit = {
    val up = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    println(f"[perfbench] $up%7.2f s $name")
  }

  /** Fixed CPU job on all cores in ms: best of three after one untimed run. */
  def canary(spark: SparkSession): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(30000000L).selectExpr("sum(id)").collect()
      (System.nanoTime() - t0) / 1e6
    }
    once()
    (1 to 3).map(_ => once()).min
  }

  /** Run `reps` fresh set-ups and return the last one's value with the
    * median set-up time in seconds. */
  def setUp[T](reps: Int)(once: Int => T): (T, Double) = {
    val timed = (0 until reps).map { i =>
      val t0 = System.nanoTime()
      val v = once(i)
      (v, (System.nanoTime() - t0) / 1e9)
    }
    (timed.last._1, Stats.median(timed.map(_._2)))
  }
}

object Stats {
  /** Nearest-rank percentile (`q` in 0..1) of `xs`; 0 when empty. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def metrics(m: collection.Map[String, (Double, String)]): String =
    m.map { case (k, (v, u)) => s"""${str(k)}:{"value":${num(v)},"unit":${str(u)}}""" }
      .mkString("{", ",", "}")

  def result(r: Result): String =
    s"""{"correct":${r.failed == 0},"attempted":${r.attempted},"failed":${r.failed},""" +
      s""""metrics":${metrics(r.metrics)},"report":${metrics(r.report)},""" +
      s""""problems":${r.problems.map(str).mkString("[", ",", "]")},""" +
      s""""notes":${r.notes.map(str).mkString("[", ",", "]")}}"""
}
