package graft

import org.apache.spark.sql.functions._

import graft.functions.{TarEntries, TfRecords}
import graft.multimodal.ShardWriter

class ShardWriterSpec extends SparkSpec {

  private def md5Hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(b).map("%02x".format(_)).mkString

  test("tfrecord writer round-trips through its own validating parser") {
    val s = spark
    import s.implicits._
    // 3 shards, records deliberately appended out of order; shard 2 empty
    // payloads included
    val rows = Seq(
      (0L, 2L, "gamma".getBytes("UTF-8")),
      (0L, 1L, "beta".getBytes("UTF-8")),
      (0L, 0L, "alpha".getBytes("UTF-8")),
      (1L, 0L, Array.emptyByteArray),
      (1L, 1L, null.asInstanceOf[Array[Byte]]),
      (2L, 5L, "solo".getBytes("UTF-8")))
    val shards = ShardWriter.emitTfRecordShards(
      rows.toDF("shard", "order", "payload"))
    val out = shards.orderBy("shard").collect()
    assert(out.map(_.getAs[Long]("shard")).toSeq == Seq(0L, 1L, 2L))
    assert(out.map(_.getAs[Long]("n_records")).toSeq == Seq(3L, 2L, 1L))
    // container accounting: 16 framing bytes per record + payload bytes
    assert(out.map(_.getAs[Long]("n_bytes")).toSeq ==
      Seq(16L * 3 + 14, 16L * 2, 16L + 4))
    assert(out.forall(r =>
      r.getAs[Array[Byte]]("data").length == r.getAs[Long]("n_bytes")))
    // the adversarial reader (validates both masked crcs) recovers every
    // record in emitted (= order-column) order
    val back = shards
      .select(col("shard"), posexplode(TfRecords.tfrecord_entries(col("data")))
        .as(Seq("idx", "e")))
      .select(col("shard"), col("idx"), col("e.length").as("len"),
        col("e.payload_md5").as("m"))
      .orderBy("shard", "idx").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3)))
    assert(back.toSeq == Seq(
      (0L, 0, 5L, md5Hex("alpha".getBytes("UTF-8"))),
      (0L, 1, 4L, md5Hex("beta".getBytes("UTF-8"))),
      (0L, 2, 5L, md5Hex("gamma".getBytes("UTF-8"))),
      (1L, 0, 0L, md5Hex(Array.emptyByteArray)),
      (1L, 1, 0L, md5Hex(Array.emptyByteArray)), // null framed as empty
      (2L, 0, 4L, md5Hex("solo".getBytes("UTF-8")))))
  }

  test("webdataset writer: member order kept, archives closed, stats exact") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      (0L, 1L, Seq(("1.txt", "one".getBytes("UTF-8")),
        ("1.cls", "a".getBytes("UTF-8")))),
      (0L, 0L, Seq(("0.txt", "zero".getBytes("UTF-8")),
        ("0.cls", "b".getBytes("UTF-8")))),
      (1L, 0L, Seq(("9.txt", "nine".getBytes("UTF-8")))))
    val shards = ShardWriter.emitWebDatasetShards(rows
      .toDF("shard", "order", "members")
      .select(col("shard"), col("order"),
        transform(col("members"),
          m => struct(m.getField("_1").as("name"),
            m.getField("_2").as("data"))).as("members")))
    val out = shards.orderBy("shard").collect()
    assert(out.map(r => (r.getAs[Long]("shard"), r.getAs[Long]("n_samples"),
      r.getAs[Long]("n_members"))).toSeq == Seq((0L, 2L, 4L), (1L, 1L, 1L)))
    // ustar accounting: header + 1 data block per member + 2 close blocks
    assert(out.map(_.getAs[Long]("n_bytes")).toSeq ==
      Seq(1024L * 4 + 1024, 1024L + 1024))
    val back = shards
      .select(col("shard"), posexplode(TarEntries.tar_entries(col("data")))
        .as(Seq("idx", "e")))
      .select(col("shard"), col("idx"), col("e.name").as("name"),
        col("e.size").as("size"), col("e.payload_md5").as("m"))
      .orderBy("shard", "idx").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3),
        r.getString(4)))
    // samples in order-column order, members in array order within each
    assert(back.toSeq == Seq(
      (0L, 0, "0.txt", 4L, md5Hex("zero".getBytes("UTF-8"))),
      (0L, 1, "0.cls", 1L, md5Hex("b".getBytes("UTF-8"))),
      (0L, 2, "1.txt", 3L, md5Hex("one".getBytes("UTF-8"))),
      (0L, 3, "1.cls", 1L, md5Hex("a".getBytes("UTF-8"))),
      (1L, 0, "9.txt", 4L, md5Hex("nine".getBytes("UTF-8")))))

    // a null member NAME frames as "" like the null-payload discipline —
    // present in the archive, never an executor NPE
    val nullName = ShardWriter.emitWebDatasetShards(
      Seq((0L, 0L, Seq((null.asInstanceOf[String], "x".getBytes("UTF-8")))))
        .toDF("shard", "order", "members")
        .select(col("shard"), col("order"),
          transform(col("members"),
            m => struct(m.getField("_1").as("name"),
              m.getField("_2").as("data"))).as("members")))
      .select(posexplode(TarEntries.tar_entries(col("data"))).as(Seq("i", "e")))
      .select(col("e.name"), col("e.size")).collect()
    assert(nullName.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("", 1L)))
  }

  test("manifest + diff: all four statuses, digests only move with content") {
    val s = spark
    import s.implicits._
    def emit(rows: Seq[(Long, Long, String)]) =
      ShardWriter.tfRecordManifest(ShardWriter.emitTfRecordShards(
        rows.map { case (sh, o, t) => (sh, o, t.getBytes("UTF-8")) }
          .toDF("shard", "order", "payload")))
    // prev: shards 0 (two recs), 1, 2; curr: 0 unchanged, 1 changed,
    // 2 removed, 3 added
    val prev = emit(Seq((0L, 0L, "a"), (0L, 1L, "b"), (1L, 0L, "c"), (2L, 0L, "d")))
    val curr = emit(Seq((0L, 0L, "a"), (0L, 1L, "b"), (1L, 0L, "C!"), (3L, 0L, "e")))
    val diff = ShardWriter.shardDiff(prev, curr).orderBy("shard").collect()
      .map(r => (r.getAs[Long]("shard"), r.getAs[String]("status"),
        r.getAs[Long]("n_prev"), r.getAs[Long]("n_curr"))).toSeq
    assert(diff == Seq((0L, "unchanged", 2L, 2L), (1L, "changed", 1L, 1L),
      (2L, "removed", 1L, 0L), (3L, "added", 0L, 1L)))
    // the digest is content-derived: same records -> same digest across
    // independent emissions (what makes cross-run resume possible)
    val again = emit(Seq((0L, 1L, "b"), (0L, 0L, "a"))) // order col decides
    val d0 = prev.filter(col("shard") === 0).collect().head.getAs[String]("content_digest")
    assert(again.collect().head.getAs[String]("content_digest") == d0)
  }

  test("framer vs parser on arbitrary payloads (property): every byte round-trips") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Test.{check, Parameters, Passed, Proved}
    val params = Parameters.default.withMinSuccessfulTests(200)
      .withInitialSeed(org.scalacheck.rng.Seed(47L))
    val payloadGen = Gen.listOf(
      Gen.containerOf[Array, Byte](Gen.choose(Byte.MinValue, Byte.MaxValue)))
    // TFRecord: frame a random record sequence, re-parse, md5s + lengths
    // must match — NULs, 0xFF runs, empty records, all of it
    val r1 = check(params, Prop.forAll(payloadGen) { payloads =>
      val blob = payloads.foldLeft(Array.emptyByteArray)(
        (acc, p) => acc ++ ShardWriter.tfRecordFrame(p))
      val arr = TfRecords.parse(blob)
      arr.numElements() == payloads.length &&
        payloads.indices.forall { i =>
          val e = arr.getStruct(i, 3)
          e.getLong(1) == payloads(i).length.toLong &&
            e.getUTF8String(2).toString == md5Hex(payloads(i))
        }
    })
    assert(r1.status == Passed || r1.status.isInstanceOf[Proved], r1.status.toString)
    // ustar: same property over the tar framer (ascii member names)
    val named = Gen.listOf(Gen.zip(
      Gen.resize(20, Gen.identifier), // never exceeds the 100-byte header
      Gen.containerOf[Array, Byte](Gen.choose(Byte.MinValue, Byte.MaxValue))))
    val r2 = check(params, Prop.forAll(named) { members =>
      val blob = members.foldLeft(Array.emptyByteArray)(
        (acc, m) => acc ++ ShardWriter.tarEntry(m._1, m._2)) ++
        new Array[Byte](1024)
      val arr = TarEntries.parse(blob)
      arr.numElements() == members.length &&
        members.indices.forall { i =>
          val e = arr.getStruct(i, 5)
          e.getUTF8String(0).toString == members(i)._1 &&
            e.getLong(2) == members(i)._2.length.toLong &&
            e.getUTF8String(4).toString == md5Hex(members(i)._2)
        }
    })
    assert(r2.status == Passed || r2.status.isInstanceOf[Proved], r2.status.toString)
  }

  test("emitted bytes are deterministic across runs and partitionings") {
    val s = spark
    import s.implicits._
    val rows = (0L until 200L).map(i => (i % 5, i, s"payload $i".getBytes("UTF-8")))
    def digestOf(parts: Int): Map[Long, String] =
      ShardWriter.emitTfRecordShards(
        rows.toDF("shard", "order", "payload").repartition(parts))
        .collect()
        .map(r => r.getAs[Long]("shard") -> md5Hex(r.getAs[Array[Byte]]("data")))
        .toMap
    val a = digestOf(1)
    assert(a.keySet == (0L until 5L).toSet)
    assert(digestOf(7) == a && digestOf(32) == a)
  }

  test("write-time reader caps: a frame the parser would refuse is never emitted") {
    // writer/reader symmetry — without these, an oversize member would
    // stop the manifest walk silently and an incremental diff would call
    // the shard 'unchanged'
    val overTf = new Array[Byte]((TfRecords.MaxRecordBytes + 1L).toInt)
    val eTf = intercept[IllegalArgumentException](ShardWriter.tfRecordFrame(overTf))
    assert(eTf.getMessage.contains("reader cap"))
    val overTar = new Array[Byte]((TarEntries.MaxEntryBytes + 1L).toInt)
    val eTar = intercept[IllegalArgumentException](ShardWriter.tarEntry("big.bin", overTar))
    assert(eTar.getMessage.contains("reader cap"))
    // exactly at the cap still frames (boundary, not off-by-one)
    assert(ShardWriter.tfRecordFrame(
      new Array[Byte](TfRecords.MaxRecordBytes.toInt)).length.toLong ==
      TfRecords.MaxRecordBytes + 16L)
  }

  test("ustar checksum field terminates digits NUL space (POSIX), and parses") {
    val entry = ShardWriter.tarEntry("t.txt", "hello".getBytes("UTF-8"))
    // six octal digits, then NUL, then the pre-filled space
    (148 until 154).foreach(i => assert(entry(i) >= '0' && entry(i) <= '7'))
    assert(entry(154) == 0, "checksum must be NUL-terminated at byte 154")
    assert(entry(155) == ' '.toByte)
    // and the gated reader still validates the recomputed sum
    val s = spark
    import s.implicits._
    val parsed = Seq(Tuple1(entry ++ new Array[Byte](1024)))
      .toDF("data")
      .select(explode(TarEntries.tar_entries(col("data"))).as("e"))
      .select(col("e.name"), col("e.size")).collect()
    assert(parsed.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("t.txt", 5L)))
  }

  test("null shard/order keys fail fast instead of routing to a sentinel") {
    val s = spark
    import s.implicits._
    val rows = Seq((java.lang.Long.valueOf(0L), java.lang.Long.valueOf(0L),
        "a".getBytes("UTF-8")),
      (null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(1L),
        "b".getBytes("UTF-8")))
    val e = intercept[Exception](
      ShardWriter.emitTfRecordShards(rows.toDF("shard", "order", "payload"))
        .collect())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("null shard key")))
  }

  test("sync over a stale .crc sidecar reads back through the checksummed FS") {
    val s = spark
    import s.implicits._
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("graft-crc-landing").toString
    def corpus(text: String) = Seq((0L, 0L, text.getBytes("UTF-8")))
      .toDF("shard", "order", "payload")
    ShardWriter.syncTfRecordShardFiles(corpus("v1"), dir)
    // a landing written by an older checksummed writer: the blob carries a
    // `.crc` sidecar describing its bytes
    val lfs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val blob = new Path(dir, "shard-00000.tfrecord")
    val old = { val in = lfs.open(blob); try in.readAllBytes() finally in.close() }
    val out = lfs.create(blob, true)
    try out.write(old) finally out.close()
    assert(lfs.exists(lfs.getChecksumFile(blob)))
    // the sync rewrites the changed shard in place
    val synced = ShardWriter.syncTfRecordShardFiles(corpus("v2, longer"), dir)
    assert(synced.collect().map(_.getAs[Long]("rewritten")).toSeq == Seq(1L))
    // the checksummed reader must see the new bytes, not a ChecksumException
    val got = { val in = lfs.open(blob); try in.readAllBytes() finally in.close() }
    val want = ShardWriter.emitTfRecordShards(corpus("v2, longer")).collect()
      .head.getAs[Array[Byte]]("data")
    assert(got.toSeq == want.toSeq)
  }
}
