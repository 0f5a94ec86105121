package graft

import java.time.{Instant, LocalDateTime, ZoneOffset}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.model.StreamMessage

/** Shared local SparkSession for all suites (one per forked test JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  def ldt(epochMs: Long): LocalDateTime =
    LocalDateTime.ofInstant(Instant.ofEpochMilli(epochMs), ZoneOffset.UTC)

  /** The reference tests' buildMsg (Storage.test.ts:15-28). */
  def msg(streamId: String, partition: Int, tsMs: Long, seq: Int,
      publisher: String = "publisher", chain: String = "1",
      payload: String = "{}"): StreamMessage =
    StreamMessage(streamId, partition, ldt(tsMs), seq, publisher, chain, payload)

  def streamDataOf(msgs: StreamMessage*): DataFrame = {
    val s = spark
    import s.implicits._
    msgs.toDS.toDF
  }

  /** Collect results as (tsMs, seq, publisher, chain) for order assertions. */
  def keysOf(df: DataFrame): Seq[(Long, Int, String, String)] = {
    val s = spark
    import s.implicits._
    df.select($"ts", $"sequence_no", $"publisher_id", $"msg_chain_id")
      .collect()
      .map(r => (r.getAs[LocalDateTime]("ts").toInstant(ZoneOffset.UTC).toEpochMilli,
        r.getInt(1), r.getString(2), r.getString(3)))
      .toSeq
  }

  /** The Spark jobs `body` starts, counted by a listener on a local
    * property only this call sets. */
  def jobsOf(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.test.op") == tag))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.test.op", tag)
    try {
      body
      org.apache.spark.ListenerBusAccess.drain(sc)
      jobs.get()
    } finally {
      sc.setLocalProperty("graft.test.op", null)
      sc.removeSparkListener(listener)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
