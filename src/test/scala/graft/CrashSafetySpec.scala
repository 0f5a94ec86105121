package graft

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.operators.BrokerQueries.MsgRef
import graft.store.MessageStore

/** Crash windows of the store's write paths. Each crash state is planted on
  * disk with plain file operations — exactly what a crash at that step of
  * the protocol leaves behind — so the product carries no test hook. In
  * every state each read answers each key once, and the next maintenance
  * run converges. */
class CrashSafetySpec extends SparkSpec {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private val day = 1700000000000L // bucket=2023-11-14
  // two batches, the second replaying seq 1: 4 physical rows, 3 keys
  private val batches = Seq(
    Seq(msg("s", 0, day, 0), msg("s", 0, day + 1000L, 1)),
    Seq(msg("s", 0, day + 1000L, 1), msg("s", 0, day + 2000L, 2)))
  // a later batch: a replay of seq 0 and a new seq 3
  private val late = Seq(msg("s", 0, day, 0), msg("s", 0, day + 3000L, 3))

  private def bucketDir(path: String) =
    new File(s"$path/stream_id=s/stream_partition=0/bucket=2023-11-14")

  private def parquetIn(dir: File): Seq[File] =
    dir.listFiles().filter(_.getName.endsWith(".parquet")).toSeq

  private def copyInto(f: File, dir: File): Unit =
    Files.copy(f.toPath, new File(dir, f.getName).toPath)

  /** Delete a file as the store's filesystem does: with its checksum. */
  private def deleteWithChecksum(f: File): Unit = {
    assert(f.delete())
    new File(f.getParentFile, s".${f.getName}.crc").delete()
  }

  /** A store holding `batches` as two files of one bucket, and the one
    * file compacting that bucket writes — taken from a twin store of the
    * same batches, compacted. Returns (store, original files, compacted
    * file). */
  private def storeAndCompacted(prefix: String): (String, Seq[File], File) = {
    val path = tmpDir(prefix)
    val twin = tmpDir(s"$prefix-twin")
    for (p <- Seq(path, twin); b <- batches) MessageStore.append(streamDataOf(b: _*), p)
    assert(MessageStore.compactStreamPart(spark, twin, "s", 0) == 1)
    val Seq(compacted) = parquetIn(bucketDir(twin))
    (path, parquetIn(bucketDir(path)), compacted)
  }

  private def seqsOf(df: DataFrame): Seq[Int] = keysOf(df).map(_._2).sorted

  /** `open` shows the physical rows; every merged read answers each key
    * once. */
  private def assertReads(path: String, physical: Long, seqs: Seq[Int]): Unit = {
    assert(MessageStore.open(spark, path).count() == physical)
    assert(seqsOf(MessageStore.openStreamPart(spark, path, "s", 0)) == seqs)
    assert(seqsOf(MessageStore.openMerged(spark, path)) == seqs)
    assert(seqsOf(MessageStore.requestLastBounded(spark, path, "s", 0, 10)) == seqs)
    assert(new GraftEngine(spark, path).metadata("s", 0).map(_._1)
      .contains(seqs.size.toLong))
  }

  /** The next compaction leaves one parquet file stamped clean, no staging
    * directory and no checksum without its file, and keeps every key. */
  private def assertConverges(path: String, seqs: Seq[Int]): Unit = {
    assert(MessageStore.compactStreamPart(spark, path, "s", 0) == 1)
    val dir = bucketDir(path)
    val names = dir.list().toSet
    assert(parquetIn(dir).size == 1, names)
    assert(!names.contains("_compact"), names)
    assert(Files.readString(new File(dir, MessageStore.CleanMarker).toPath) == "1")
    names.filter(_.endsWith(".crc")).foreach { crc =>
      assert(names.contains(crc.stripPrefix(".").stripSuffix(".crc")), names)
    }
    assertReads(path, seqs.size.toLong, seqs)
  }

  test("compaction crash: marker gone, a stale _compact holds a partial copy") {
    val (path, _, compacted) = storeAndCompacted("graft-crash-stale")
    val staging = new File(bucketDir(path), "_compact")
    assert(staging.mkdir())
    // the first half of the compacted file: unreadable as parquet, so any
    // read that touched staging would fail
    val bytes = Files.readAllBytes(compacted.toPath)
    Files.write(new File(staging, compacted.getName).toPath,
      bytes.take(bytes.length / 2))
    assertReads(path, 4L, Seq(0, 1, 2))
    assertConverges(path, Seq(0, 1, 2))
  }

  test("compaction crash: the compacted file sits beside the originals") {
    val (path, _, compacted) = storeAndCompacted("graft-crash-beside")
    val dir = bucketDir(path)
    copyInto(compacted, dir)
    // staging still holds the write's success file
    val staging = new File(dir, "_compact")
    assert(staging.mkdir() && new File(staging, "_SUCCESS").createNewFile())
    assertReads(path, 7L, Seq(0, 1, 2))
    assertConverges(path, Seq(0, 1, 2))
  }

  test("compaction crash: the originals are deleted but there is no stamp") {
    val (path, originals, compacted) = storeAndCompacted("graft-crash-nostamp")
    copyInto(compacted, bucketDir(path))
    originals.foreach(deleteWithChecksum)
    assertReads(path, 3L, Seq(0, 1, 2))
    assertConverges(path, Seq(0, 1, 2))
  }

  test("compaction crash: a file appended between the listing and the stamp") {
    val (path, originals, compacted) = storeAndCompacted("graft-crash-appended")
    val dir = bucketDir(path)
    // the append lands mid-compaction; the compaction moves its file in,
    // deletes only the files it read and stamps its own file count
    MessageStore.append(streamDataOf(late: _*), path)
    copyInto(compacted, dir)
    originals.foreach(deleteWithChecksum)
    Files.writeString(new File(dir, MessageStore.CleanMarker).toPath, "1")
    assertReads(path, 5L, Seq(0, 1, 2, 3))
    assertConverges(path, Seq(0, 1, 2, 3))
  }

  test("compaction never deletes a file appended while it runs") {
    val path = tmpDir("graft-crash-race")
    batches.foreach(b => MessageStore.append(streamDataOf(b: _*), path))
    val side = tmpDir("graft-crash-race-side")
    MessageStore.append(streamDataOf(late: _*), side)
    val Seq(appended) = parquetIn(bucketDir(side))
    // a writer lands its file once the compaction's write job has started,
    // after the compaction listed its bucket
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val landed = new java.util.concurrent.atomic.AtomicBoolean()
    val writer = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (landed.compareAndSet(false, true)) copyInto(appended, bucketDir(path))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(writer)
    try {
      assert(MessageStore.compactStreamPart(spark, path, "s", 0) == 1)
      org.apache.spark.ListenerBusAccess.drain(sc)
    } finally sc.removeSparkListener(writer)
    assert(landed.get())
    // the appended file survived beside the compacted one and voids the
    // stamp, so reads merge its replay away
    assert(parquetIn(bucketDir(path)).map(_.getName).contains(appended.getName))
    assertReads(path, 5L, Seq(0, 1, 2, 3))
    assertConverges(path, Seq(0, 1, 2, 3))
  }

  test("a retried publish: two physical copies, each row served once, " +
      "delivered twice, compacted to one") {
    val path = tmpDir("graft-publish-retry")
    val engine = new GraftEngine(spark, path)
    try {
      val sub = engine.subscribe("c", "s", 0)
      val batch = streamDataOf(msg("s", 0, 1000L, 0), msg("s", 0, 2000L, 1))
      // a publish has no replay marker: the retry appends again
      assert(engine.publish(batch, 10000L) == 2)
      assert(engine.publish(batch, 10000L) == 2)
      assert(MessageStore.open(spark, path).count() == 4)
      def unicasts(frames: Iterator[graft.serve.Resend.Frame]): Seq[String] =
        frames.collect { case graft.serve.Resend.Unicast(m) => m }.toSeq
      assert(unicasts(engine.last("s", 0, 10)).size == 2)
      assert(unicasts(engine.from("s", 0, MsgRef(0L, 0))).size == 2)
      assert(engine.metadata("s", 0).map(_._1).contains(2L))
      // at least once to subscribers: each message arrives twice
      val delivered = sub.queue.asScala.toSeq
      assert(delivered.size == 4)
      assert(delivered.groupBy(identity).values.map(_.size).toSet == Set(2))
      assert(engine.compact("s", 0) == 1)
      assert(MessageStore.open(spark, path).count() == 2)
      val dir = new File(s"$path/stream_id=s/stream_partition=0/bucket=1970-01-01")
      assert(parquetIn(dir).size == 1)
      assert(new File(dir, MessageStore.CleanMarker).isFile)
    } finally engine.close()
  }
}
