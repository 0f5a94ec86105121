package graft.multimodal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

/** Training-shard WRITERS — the emit half of the container trio whose
  * read half is the gated parsers ([[graft.functions.TfRecords]],
  * [[graft.functions.TarEntries]]). A training-data pipeline's
  * deliverable is shard files: crawl → curate → encode → pack ends here,
  * producing container BYTES per shard that any consumer of the public
  * formats (TFRecord with live masked-crc32c framing, WebDataset ustar
  * archives) reads back verbatim. The reference's arc stops at serving
  * stored messages back over its own protocol
  * (`src/plugins/storage/Storage.ts` requestLast/requestRange); this is
  * that arc's training-factory upgrade, SURVEY §2's pipeline tail.
  *
  * Validation discipline: every writer is gated by ROUND-TRIPPING through
  * its own adversarial reader — emit, re-parse with the checksum-validating
  * parser, hash-match record digests against an oracle that re-derives
  * them arithmetically (q_shard_roundtrip / q_wds_roundtrip /
  * q_corpus_to_shards). A framing bug cannot hide: the reader validates
  * every CRC/checksum it walks.
  *
  * Scale design: `repartition(shard)` hash-routes each shard's rows to one
  * task and `sortWithinPartitions(shard, order)` makes shards contiguous
  * runs in shuffle order — the per-shard assembly is then a streaming
  * single pass (mapPartitions over the sorted run), no `collect_list`
  * buffer, no sort_array copy, no driver involvement. One shard's bytes
  * must fit in a task (inherent to a one-blob-per-shard output row); the
  * upstream LPT balance ([[graft.operators.Packing.shardBalance]]) is what
  * sizes shards, so the memory bound is the caller's shard-size policy,
  * not a skew accident. Several shards hashing to one partition stream
  * sequentially through the same iterator.
  */
object ShardWriter {

  /** One TFRecord frame: u64-LE length, masked-crc32c(length), payload,
    * masked-crc32c(payload) — both checksums live, the published format
    * [[graft.functions.TfRecords]] validates. The reader's per-record cap
    * ([[graft.functions.TfRecords.MaxRecordBytes]]) is enforced HERE too:
    * a frame the validating reader would refuse to walk must never be
    * emitted, or a manifest would silently digest only the prefix before
    * it and an incremental diff would mark the shard `unchanged`. */
  def tfRecordFrame(payload: Array[Byte]): Array[Byte] = {
    require(payload.length.toLong <= graft.functions.TfRecords.MaxRecordBytes,
      s"record payload ${payload.length} B exceeds the reader cap " +
        s"${graft.functions.TfRecords.MaxRecordBytes} B — unreadable by the validating parser")
    def le32(v: Long): Array[Byte] = Array(
      (v & 0xff).toByte, ((v >>> 8) & 0xff).toByte,
      ((v >>> 16) & 0xff).toByte, ((v >>> 24) & 0xff).toByte)
    val lenBytes = {
      val v = payload.length.toLong
      le32(v & 0xffffffffL) ++ le32(v >>> 32)
    }
    lenBytes ++
      le32(graft.functions.TfRecords.maskedCrc32c(lenBytes, 0, 8)) ++
      payload ++
      le32(graft.functions.TfRecords.maskedCrc32c(payload, 0, payload.length))
  }

  /** One POSIX ustar entry: 512-byte header (NUL-padded name, octal
    * size/mtime/mode, computed checksum, `ustar` magic) + payload padded
    * to the 512-byte block. Deterministic (mtime 0) so emitted shards are
    * byte-reproducible across runs. */
  def tarEntry(name: String, payload: Array[Byte]): Array[Byte] = {
    val h = new Array[Byte](512)
    def put(at: Int, s: String): Unit = {
      val b = s.getBytes("US-ASCII")
      System.arraycopy(b, 0, h, at, b.length)
    }
    require(name.getBytes("US-ASCII").length <= 100, s"name too long: $name")
    // the reader-cap twin of tfRecordFrame's check: an entry the gated
    // tar reader refuses stops its manifest walk mid-archive
    require(payload.length.toLong <= graft.functions.TarEntries.MaxEntryBytes,
      s"member payload ${payload.length} B exceeds the reader cap " +
        s"${graft.functions.TarEntries.MaxEntryBytes} B — unreadable by the validating parser")
    put(0, name)
    put(100, "0000644")   // mode, NUL-terminated by the zero fill
    put(108, "0000000")   // uid
    put(116, "0000000")   // gid
    put(124, f"${payload.length}%011o") // size, 11 octal digits + NUL
    put(136, "00000000000")             // mtime 0 (deterministic)
    java.util.Arrays.fill(h, 148, 156, ' '.toByte) // checksum as spaces
    h(156) = '0'          // regular file
    put(257, "ustar")     // magic (NUL) + version "00"
    put(263, "00")
    put(265, "graft")     // uname
    put(297, "graft")     // gname
    var sum = 0L
    var i = 0
    while (i < 512) { sum += h(i) & 0xff; i += 1 }
    put(148, f"$sum%06o") // 6 octal digits...
    h(154) = 0            // ...then NUL + space — the POSIX terminator pair
                          // (strict consumers reject space-space)
    val padded = (payload.length + 511) / 512 * 512
    h ++ payload ++ new Array[Byte](padded - payload.length)
  }

  /** Emit TFRecord shard blobs: one output row per distinct `shardCol`
    * value, records framed in ascending `orderCol` order (the pair must be
    * a total key — ties would make emitted bytes nondeterministic).
    * Returns `(shard, n_records, n_bytes, data)`; `n_bytes` counts the
    * full container (16 framing bytes per record + payloads). Null
    * payloads frame as zero-length records — present, never invented.
    * Null KEYS are different: shard/order must be a non-null total key
    * (they decide WHERE and IN WHAT ORDER a record lands), so a null in
    * either fails fast rather than silently routing to a sentinel shard. */
  def emitTfRecordShards(records: DataFrame,
      shardCol: Column = col("shard"), orderCol: Column = col("order"),
      payloadCol: Column = col("payload")): DataFrame = {
    val s = records.sparkSession
    import s.implicits._
    records.select(requireKey(shardCol, "shard").as("shard"),
        requireKey(orderCol, "order").as("order"),
        payloadCol.cast("binary").as("payload"))
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("order"))
      .as[(Long, Long, Array[Byte])]
      .mapPartitions { it =>
        shardRuns(it)(_._1) { (bos, row) =>
          bos.write(tfRecordFrame(Option(row._3).getOrElse(Array.emptyByteArray)))
          1L
        }.map { case (shard, n, _, data) => (shard, n, data.length.toLong, data) }
      }
      .toDF("shard", "n_records", "n_bytes", "data")
  }

  /** Emit WebDataset (ustar) shard blobs: each input row is one SAMPLE
    * whose `membersCol` (`array<struct<name string, data binary>>`)
    * becomes consecutive archive members — the filename-stem pairing
    * convention (`<key>.txt`, `<key>.png`, …) is the caller's naming;
    * this writer preserves member order within a sample and sample order
    * by `orderCol` within a shard, and closes every archive with the two
    * end-of-archive zero blocks. Returns
    * `(shard, n_samples, n_members, n_bytes, data)`. */
  def emitWebDatasetShards(samples: DataFrame,
      shardCol: Column = col("shard"), orderCol: Column = col("order"),
      membersCol: Column = col("members")): DataFrame = {
    val s = samples.sparkSession
    import s.implicits._
    samples.select(requireKey(shardCol, "shard").as("shard"),
        requireKey(orderCol, "order").as("order"),
        transform(membersCol, m =>
          struct(m.getField("name").cast("string").as("_1"),
            m.getField("data").cast("binary").as("_2"))).as("members"))
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("order"))
      .as[(Long, Long, Seq[(String, Array[Byte])])]
      .mapPartitions { it =>
        shardRuns(it)(_._1) { (bos, row) =>
          val members = Option(row._3).getOrElse(Seq.empty)
          members.foreach { case (name, data) =>
            // null member names frame as "" (present, never invented) —
            // the null-payload discipline; names the ustar header cannot
            // represent (>100 bytes) still fail fast in tarEntry, because
            // silently truncating a name would corrupt the sample pairing
            bos.write(tarEntry(Option(name).getOrElse(""),
              Option(data).getOrElse(Array.emptyByteArray)))
          }
          members.length.toLong
        }.map { case (shard, nSamples, nMembers, body) =>
          val data = body ++ new Array[Byte](1024) // end-of-archive blocks
          (shard, nSamples, nMembers, data.length.toLong, data)
        }
      }
      .toDF("shard", "n_samples", "n_members", "n_bytes", "data")
  }

  /** Content manifest of emitted TFRecord shards: every blob re-parsed by
    * the VALIDATING reader, its record-digest sequence folded into one
    * `content_digest` per shard (md5 of the comma-joined payload md5s in
    * record order). The digest is derived from record CONTENT, not
    * container bytes, so an independent system (the oracle, a prior
    * pipeline run, a consumer-side audit) reproduces it without crc32c —
    * while the reader's checksum walk still vouches for the bytes. */
  def tfRecordManifest(shards: DataFrame): DataFrame =
    shards.select(col("shard"), col("n_records"), col("n_bytes"),
      tfRecordContentDigest(col("data")).as("content_digest"))

  /** THE TFRecord content-digest definition — md5 of the comma-joined
    * record payload md5s in record order, derived by re-parsing container
    * bytes through the VALIDATING reader. Single-sourced here because the
    * batch manifest, the live streaming manifest
    * ([[graft.streaming.StreamShardEmit.sealedManifest]]) and the
    * file-landing gates must all agree on it character-for-character —
    * a drifted copy would mark every shard `changed`. */
  def tfRecordContentDigest(data: Column): Column =
    md5(concat_ws(",", transform(
      graft.functions.TfRecords.tfrecord_entries(data),
      e => e.getField("payload_md5"))))

  /** One tar-member digest ATOM: `<name-length>:<name>:<payload-md5>`.
    * The length prefix makes atom boundaries unambiguous — member names
    * may themselves contain `:` or `,`, and without the prefix two
    * different member lists could alias to one joined digest string
    * (e.g. name "a:b" vs name "a" whose md5 text starts "b..."), which
    * would let an incremental sync skip a genuinely changed shard.
    * Length is in CHARACTERS (Spark `length` == DuckDB `length`), the
    * unit both engines share. */
  def tarMemberAtom(name: Column, payloadMd5: Column): Column = {
    val n = coalesce(name.cast("string"), lit(""))
    concat_ws(":", length(n).cast("string"), n, payloadMd5)
  }

  /** THE WebDataset content-digest definition — md5 of the comma-joined
    * [[tarMemberAtom]]s in member order, names included because
    * WebDataset pairing is by filename stem (a rename IS a content
    * change). The [[tfRecordContentDigest]] single-sourcing argument,
    * tar flavor. */
  def tarContentDigest(data: Column): Column =
    md5(concat_ws(",", transform(
      graft.functions.TarEntries.tar_entries(data),
      e => tarMemberAtom(e.getField("name"), e.getField("payload_md5")))))

  /** WebDataset twin of [[tfRecordManifest]]: per-shard content digest
    * over the tar reader's `name:payload_md5` sequence in member order —
    * names are part of the digest because WebDataset pairing is BY
    * filename stem, so a renamed member is a changed shard even with
    * identical bytes. */
  def tarManifest(shards: DataFrame): DataFrame =
    shards.select(col("shard"), col("n_samples"), col("n_members"),
      col("n_bytes"),
      tarContentDigest(col("data")).as("content_digest"))

  /** Shard-level snapshot diff — WHICH SHARDS NEED REWRITING when the
    * corpus moves: full outer join of two manifests on shard, each shard
    * classified added / removed / changed / unchanged by content digest
    * (the [[graft.dedup.Dedup.snapshotDiff]] discipline lifted from docs
    * to shards). At 100 TB this is the resume story: under a stable
    * (mod/rendezvous) shard assignment, a 1% corpus change touches ~1% of
    * shards, and only those blobs are re-emitted — the diff is the work
    * list. One shard-keyed join over metadata-sized manifests; the corpus
    * is never rescanned. */
  def shardDiff(prev: DataFrame, curr: DataFrame): DataFrame = {
    val p = prev.select(col("shard"), col("n_records").as("n_prev"),
      col("content_digest").as("prev_digest"))
    val c = curr.select(col("shard"), col("n_records").as("n_curr"),
      col("content_digest").as("curr_digest"))
    p.join(c, Seq("shard"), "full_outer")
      .select(col("shard"),
        when(col("prev_digest").isNull, lit("added"))
          .when(col("curr_digest").isNull, lit("removed"))
          .when(col("prev_digest") === col("curr_digest"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"),
        coalesce(col("n_prev"), lit(0L)).as("n_prev"),
        coalesce(col("n_curr"), lit(0L)).as("n_curr"),
        col("prev_digest"), col("curr_digest"))
  }

  /** Content manifest STRAIGHT FROM RECORDS — no container framing, no
    * payload movement: record md5s are computed map-side and only the
    * 32-hex digests (plus lengths) ride the shard-keyed exchange, then a
    * streaming fold produces the SAME `(shard, n_records, n_bytes,
    * content_digest)` rows [[tfRecordManifest]] derives by re-parsing
    * emitted blobs (ShardFilesSpec pins the equivalence). This is what
    * makes the 100 TB diff cheap: deciding WHICH shards changed costs
    * one metadata-sized shuffle of the new corpus, not a re-frame of
    * it. */
  def recordManifest(records: DataFrame,
      shardCol: Column = col("shard"), orderCol: Column = col("order"),
      payloadCol: Column = col("payload")): DataFrame = {
    val s = records.sparkSession
    import s.implicits._
    val empty = lit(Array.emptyByteArray)
    records.select(requireKey(shardCol, "shard").as("shard"),
        requireKey(orderCol, "order").as("order"),
        md5(coalesce(payloadCol.cast("binary"), empty)).as("rec_md5"),
        (length(coalesce(payloadCol.cast("binary"), empty)) + 16L)
          .cast("long").as("rec_bytes"))
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("order"))
      .as[(Long, Long, String, Long)]
      .mapPartitions { it =>
        new Iterator[(Long, Long, Long, String)] {
          private var pending =
            if (it.hasNext) Some(it.next()) else None
          override def hasNext: Boolean = pending.isDefined
          override def next(): (Long, Long, Long, String) = {
            val shard = pending.get._1
            val md = java.security.MessageDigest.getInstance("MD5")
            var n = 0L
            var bytes = 0L
            while (pending.isDefined && pending.get._1 == shard) {
              if (n > 0L) md.update(','.toByte)
              md.update(pending.get._3.getBytes("US-ASCII"))
              n += 1L
              bytes += pending.get._4
              pending = if (it.hasNext) Some(it.next()) else None
            }
            (shard, n, bytes, md.digest().map("%02x".format(_)).mkString)
          }
        }
      }
      .toDF("shard", "n_records", "n_bytes", "content_digest")
  }

  /** WebDataset twin of [[recordManifest]]: the `name:md5` digest
    * sequence [[tarManifest]] recovers from archive bytes, derived
    * straight from samples — member names and payload md5s are folded
    * map-side into one metadata row per sample, so only digests ride
    * the exchange. `n_bytes` replays the ustar block arithmetic
    * (512-byte header + block-padded payload per member + the two
    * close blocks). */
  def sampleManifest(samples: DataFrame,
      shardCol: Column = col("shard"), orderCol: Column = col("order"),
      membersCol: Column = col("members")): DataFrame = {
    val s = samples.sparkSession
    import s.implicits._
    val part = concat_ws(",", transform(membersCol, e =>
      tarMemberAtom(e.getField("name"),
        md5(coalesce(e.getField("data").cast("binary"),
          lit(Array.emptyByteArray))))))
    val bytes = aggregate(membersCol, lit(0L), (acc, e) =>
      acc + 512L + ((length(coalesce(e.getField("data").cast("binary"),
        lit(Array.emptyByteArray))).cast("long") + 511L) / 512L)
        .cast("long") * 512L) // Column `/` is double division: floor back
    samples.select(requireKey(shardCol, "shard").as("shard"),
        requireKey(orderCol, "order").as("order"),
        coalesce(part, lit("")).as("part"),
        when(membersCol.isNull, lit(0L))
          .otherwise(size(membersCol).cast("long")).as("n_members"),
        coalesce(bytes, lit(0L)).as("sample_bytes"))
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("order"))
      .as[(Long, Long, String, Long, Long)]
      .mapPartitions { it =>
        new Iterator[(Long, Long, Long, Long, String)] {
          private var pending = if (it.hasNext) Some(it.next()) else None
          override def hasNext: Boolean = pending.isDefined
          override def next(): (Long, Long, Long, Long, String) = {
            val shard = pending.get._1
            val md = java.security.MessageDigest.getInstance("MD5")
            var nSamples = 0L
            var nMembers = 0L
            var bytes = TarCloseBytesL // the two end-of-archive blocks
            var wroteAtoms = false
            while (pending.isDefined && pending.get._1 == shard) {
              val (_, _, part, nm, sb) = pending.get
              // an empty-member sample contributes no digest atoms, the
              // same as tarManifest's walk over an archive without its
              // entries — but it still counts as a sample
              if (part.nonEmpty) {
                if (wroteAtoms) md.update(','.toByte)
                md.update(part.getBytes("UTF-8"))
                wroteAtoms = true
              }
              nSamples += 1L
              nMembers += nm
              bytes += sb
              pending = if (it.hasNext) Some(it.next()) else None
            }
            (shard, nSamples, nMembers, bytes,
              md.digest().map("%02x".format(_)).mkString)
          }
        }
      }
      .toDF("shard", "n_samples", "n_members", "n_bytes", "content_digest")
  }

  private val TarCloseBytesL = 1024L

  /** WebDataset twin of [[syncTfRecordShardFiles]]: sync a `.tar` shard
    * directory to a new sample corpus, rewriting only the shards whose
    * [[sampleManifest]] digest moved. Same crash discipline; a dir
    * without a marker falls back to the full overwrite path. */
  def syncWebDatasetShardFiles(samples: DataFrame, dir: String): DataFrame =
    syncFiles(samples, dir, "tar", emitWebDatasetShards(_),
      sampleManifest(_), writeWebDatasetShardFiles, countCol = "n_samples")

  /** ONE sync discipline for both container formats — the crash-window
    * ordering (marker check → bootstrap fallback → metadata-only diff →
    * marker delete → changed-blob landing → removed-file delete → full
    * manifest replace → marker last) is maintained here once. */
  private def syncFiles(input: DataFrame, dir: String, ext: String,
      emit: DataFrame => DataFrame, liveManifest: DataFrame => DataFrame,
      writeAll: (DataFrame, String) => DataFrame,
      countCol: String): DataFrame = {
    val spark = input.sparkSession
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(root, "_SUCCESS"))) {
      // no trusted previous state: full overwrite (cleans stale files);
      // the writer already derives the manifest — don't digest twice
      val m = writeAll(emit(input), dir).withColumn("rewritten", lit(1L))
      return m.select(col("shard") +: col("rewritten") +:
        m.columns.filter(c => c != "shard" && c != "rewritten").map(col): _*)
    }
    val curr = liveManifest(input).localCheckpoint(true)
    val prev = readShardManifest(spark, dir)
      .withColumnRenamed(countCol, "n_records")
    val work = shardDiff(prev, curr.withColumnRenamed(countCol, "n_records"))
      .localCheckpoint(true)
    fs.delete(new Path(root, "_SUCCESS"), false) // invalidate first
    val redo = work.filter(col("status").isin("changed", "added"))
      .select(col("shard"))
    writeBlobFiles(emit(
      input.join(broadcast(redo), Seq("shard"), "left_semi")), dir, ext)
    work.filter(col("status") === "removed").select(col("shard"))
      .collect().foreach { r => // removed set is diff-sized metadata
        fs.delete(new Path(root, f"shard-${r.getLong(0)}%05d.$ext"), false)
      }
    curr.write.mode("overwrite")
      .parquet(new Path(root, "_manifest").toString)
    fs.create(new Path(root, "_SUCCESS"), true).close()
    curr.join(work.select(col("shard"),
        col("status").isin("changed", "added").cast("long")
          .as("rewritten")), Seq("shard"))
      .select(col("shard") +: col("rewritten") +:
        curr.columns.filter(_ != "shard").map(col): _*)
  }

  /** Incrementally SYNC a shard-file directory to a new corpus — the
    * resume story executed against the DIRECTORY: the stored manifest
    * is the previous state, [[recordManifest]] derives the new state in
    * one metadata-sized pass (payload bytes never shuffle), and only
    * the `changed`/`added` shards are framed and rewritten; `removed`
    * shard files are deleted; `unchanged` FILES ARE NOT TOUCHED. At
    * 100 TB a 1% corpus edit costs ~1% of the frame+write work plus one
    * digest pass — against a directory, not just a DataFrame
    * ([[reemitChanged]] is the blob-level form). Crash discipline as in
    * the full writer: `_SUCCESS` deleted first, blobs temp+renamed, the
    * FULL new manifest replaces `_manifest/`, marker last. A directory
    * without a marker (fresh or crashed-first-write) falls back to the
    * full overwrite path, which also cleans stale files. Returns
    * `(shard, rewritten, n_records, n_bytes, content_digest)` — the
    * final directory state annotated with what the sync actually
    * rewrote. */
  def syncTfRecordShardFiles(records: DataFrame, dir: String): DataFrame =
    syncFiles(records, dir, "tfrecord", emitTfRecordShards(_),
      recordManifest(_), writeTfRecordShardFiles, countCol = "n_records")

  /** EXECUTE a [[shardDiff]] work list — the incremental re-emit that
    * makes the 100 TB resume story real: shards the diff marked
    * `unchanged` are carried over as their PREVIOUS blobs byte-for-byte
    * (never re-framed, never re-read), `changed`/`added` shards are
    * re-emitted from ONLY their slice of the new corpus, `removed`
    * shards drop. The result is contract-equal to a full re-emit of the
    * current corpus (q_shard_incremental_apply gates it hash-for-hash)
    * at the cost of the changed slice.
    *
    * Scale: `work` is manifest-sized metadata — both the semi-join that
    * prunes the corpus to changed shards and the semi-join that selects
    * carried-over blobs broadcast it; with a 1% corpus change the emit
    * exchange moves ~1% of the records a full re-emit would. `records`
    * must carry the same `(shard, order, payload)` columns
    * [[emitTfRecordShards]] takes, under the SAME STABLE shard
    * assignment both manifests were built from (mod/rendezvous — an LPT
    * re-rank would reshuffle every shard and the diff would mark the
    * world changed). */
  def reemitChanged(prevShards: DataFrame, records: DataFrame,
      work: DataFrame): DataFrame = {
    val redo = work.filter(col("status").isin("changed", "added"))
      .select(col("shard"))
    val keep = work.filter(col("status") === "unchanged")
      .select(col("shard"))
    val fresh = emitTfRecordShards(
      records.join(broadcast(redo), Seq("shard"), "left_semi"))
    prevShards.select(col("shard"), col("n_records"), col("n_bytes"),
        col("data"))
      .join(broadcast(keep), Seq("shard"), "left_semi")
      .unionByName(fresh)
  }

  // ------------------------------------------------------------------
  // The operational last mile: sealed shards as FILES a training job
  // mounts. Blob rows are what the gates validate; a directory of
  // `shard-NNNNN.<ext>` files plus a `_SUCCESS`-gated manifest is what
  // a data loader actually consumes. The crash-safety discipline is the
  // store's ([[graft.store.MessageStore]]): every observable step is
  // atomic-or-absent — blobs land under temp names and RENAME into
  // place, the manifest parquet lands before the marker, `_SUCCESS` is
  // written LAST and deleted FIRST on rewrite — so a reader either sees
  // a complete, manifest-described shard set or refuses the directory.
  // ------------------------------------------------------------------

  /** Write shard blobs as one file per shard via the Hadoop FileSystem
    * API (HDFS/S3A/local all ride the same connector): each task writes
    * its own partition's blobs — no driver data path, no collect. File
    * names are `shard-NNNNN.<ext>` (zero-padded for lexical order,
    * wider ids never truncate). OVERWRITE semantics for the whole
    * directory: `_SUCCESS` is removed up front (invalidating the dir
    * for concurrent readers), stale `shard-*.<ext>` files from a prior
    * write are removed, and the marker only reappears after every blob
    * and the manifest parquet (`_manifest/`) are durably in place. */
  private def writeFiles(shards: DataFrame, manifest: DataFrame,
      dir: String, ext: String): Unit = {
    require(ext.matches("[A-Za-z0-9]+"), s"bad extension: $ext")
    val spark = shards.sparkSession
    import spark.implicits._
    val conf = new SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val root = new Path(dir)
    val fs = root.getFileSystem(conf.value)
    fs.mkdirs(root)
    fs.delete(new Path(root, "_SUCCESS"), false) // invalidate first
    val stale = fs.globStatus(new Path(root, s"shard-*.$ext"))
    if (stale != null) stale.foreach(st => fs.delete(st.getPath, false))
    writeBlobFiles(shards, dir, ext)
    manifest.write.mode("overwrite")
      .parquet(new Path(root, "_manifest").toString)
    val ok = fs.create(new Path(root, "_SUCCESS"), true)
    ok.close()
  }

  /** THE atomic blob landing — every file this module (and the live
    * [[graft.streaming.StreamShardEmit]] landing) puts on disk goes
    * through this one temp-write+rename sequence, so a hardening (fsync
    * before rename, object-store overwrite flags, tmp cleanup) lands
    * everywhere at once. */
  /** Rename discipline is delete-then-rename, NOT an overwrite-capable
    * `FileContext.rename(..., OVERWRITE)`, deliberately: FileContext's
    * local binding is RawLocalFs while `fs.create` writes through
    * ChecksumFileSystem, so an fc rename strands the `.crc` sidecars —
    * and it benchmarked ~25 ms per blob (2-3x on the blob-per-file sync
    * paths). The cost of delete-then-rename is a transient window where
    * a REPLAYED blob (identical bytes being rewritten in place) is
    * momentarily absent; every reader of a live landing dir is
    * manifest-joined ([[readShardFiles]],
    * [[graft.streaming.StreamShardEmit.readSealedFiles]]), so the row
    * drops from that read and reappears — never phantom or torn data.
    * First writes (the non-replay case) are unaffected: the destination
    * doesn't exist yet, so they stay atomic-or-absent.
    *
    * `fs` is the landing directory's own FileSystem. When it is
    * checksummed (file:// — Hadoop's ChecksumFileSystem writes a `.crc`
    * sidecar per file, DOUBLING every create/rename/delete of a blob
    * landing; r19 measured the sidecars as half of all files in every
    * landing dir), the temp write and the rename run on its RAW layer, so
    * no sidecar is made. The blobs' integrity story does not ride the
    * sidecars: every landing is manifest-described with content digests
    * derived through the validating readers, and the gates re-walk the
    * on-disk bytes. The delete of the old destination still goes through
    * `fs`, which also drops `getChecksumFile(dst)`: a sidecar an earlier
    * checksummed writer left beside `dst` would otherwise describe the old
    * bytes, and checksummed readers would reject the new ones. HDFS/S3A
    * pass through unchanged (their checksumming is server-side, not a
    * client sidecar). */
  private[graft] def writeBlob(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, name: String, bytes: Array[Byte]): Unit = {
    val raw = fs match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case f => f
    }
    val tmp = new Path(dir, s"_tmp.$name")
    val out = raw.create(tmp, true)
    try out.write(Option(bytes).getOrElse(Array.emptyByteArray))
    finally out.close()
    val dst = new Path(dir, name)
    fs.delete(dst, false)
    if (!raw.rename(tmp, dst))
      throw new java.io.IOException(s"rename $tmp -> $dst failed")
  }

  /** The distributed blob-landing pass shared by the full writer and the
    * incremental sync: each task writes its partition's blobs via
    * [[writeBlob]] — atomic-or-absent per file. */
  private def writeBlobFiles(shards: DataFrame, dir: String,
      ext: String): Unit = {
    val spark = shards.sparkSession
    import spark.implicits._
    val conf = new SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    shards.select(col("shard").cast("long"), col("data"))
      .as[(Long, Array[Byte])]
      .foreachPartition { it: Iterator[(Long, Array[Byte])] =>
        if (it.hasNext) {
          val tfs = new Path(dir).getFileSystem(conf.value)
          it.foreach { case (shard, data) =>
            require(shard >= 0L, s"file sink requires non-negative shard ids: $shard")
            writeBlob(tfs, dir, f"shard-$shard%05d.$ext", data)
          }
        }
      }
  }

  /** [[emitTfRecordShards]] output → `shard-NNNNN.tfrecord` files plus a
    * content manifest ([[tfRecordManifest]] — digests derived through
    * the VALIDATING reader, so the persisted manifest vouches for the
    * exact bytes on disk). Returns the manifest for chaining. */
  def writeTfRecordShardFiles(shards: DataFrame, dir: String): DataFrame = {
    val m = tfRecordManifest(shards)
    writeFiles(shards, m, dir, "tfrecord")
    m
  }

  /** WebDataset twin of [[writeTfRecordShardFiles]]:
    * `shard-NNNNN.tar` files plus the [[tarManifest]] content manifest. */
  def writeWebDatasetShardFiles(shards: DataFrame, dir: String): DataFrame = {
    val m = tarManifest(shards)
    writeFiles(shards, m, dir, "tar")
    m
  }

  /** Read a shard-file directory back as `(shard, data)` blob rows —
    * refusing a directory without the `_SUCCESS` marker (a crashed or
    * in-progress write is not data), and returning ONLY shards the
    * persisted manifest describes (the
    * [[graft.streaming.StreamShardEmit.readSealedFiles]] discipline): a
    * file a foreign writer dropped into the directory — which an
    * incremental [[syncFiles]] would neither rewrite nor delete — is
    * invisible, never phantom data. The distributed `binaryFile` source
    * does the scan; shard ids come from the file names the writer
    * controls. */
  def readShardFiles(spark: SparkSession, dir: String,
      ext: String = "tfrecord"): DataFrame = {
    require(ext.matches("[A-Za-z0-9]+"), s"bad extension: $ext")
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new Path(root, "_SUCCESS")),
      s"$dir has no _SUCCESS marker — incomplete, crashed, or not a shard directory")
    val described = spark.read
      .parquet(new Path(root, "_manifest").toString).select(col("shard"))
    spark.read.format("binaryFile")
      .option("pathGlobFilter", s"shard-*.$ext").load(dir)
      .select(
        regexp_extract(col("path"), s"shard-(\\d+)\\.$ext$$", 1)
          .cast("long").as("shard"),
        col("content").as("data"))
      .join(broadcast(described), Seq("shard"), "left_semi")
  }

  /** The persisted manifest of a `_SUCCESS`-gated shard directory. */
  def readShardManifest(spark: SparkSession, dir: String): DataFrame = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new Path(root, "_SUCCESS")),
      s"$dir has no _SUCCESS marker — incomplete, crashed, or not a shard directory")
    spark.read.parquet(new Path(root, "_manifest").toString)
  }

  /** Null-key fail-fast as the key VALUE itself (coalesce short-circuits
    * on the non-null path, so the error branch is free per row and —
    * unlike a side `assert_true` column — cannot be pruned away). */
  private def requireKey(c: Column, what: String): Column =
    coalesce(c.cast("long"),
      raise_error(lit(s"ShardWriter: null $what key — shard/order must be " +
        "a non-null total key")).cast("long"))

  /** Streaming run-grouper: folds a (shard-contiguous, order-sorted)
    * iterator into one `(key, rowCount, unitCount, bytes)` per contiguous
    * key run — `write` appends one row's bytes and returns its unit count
    * (records, members). Never holds more than the current shard's
    * buffer. */
  private def shardRuns[T](it: Iterator[T])(key: T => Long)(
      write: (java.io.ByteArrayOutputStream, T) => Long
  ): Iterator[(Long, Long, Long, Array[Byte])] =
    new Iterator[(Long, Long, Long, Array[Byte])] {
      private var pending: Option[T] = if (it.hasNext) Some(it.next()) else None
      override def hasNext: Boolean = pending.isDefined
      override def next(): (Long, Long, Long, Array[Byte]) = {
        val shard = key(pending.get)
        val bos = new java.io.ByteArrayOutputStream()
        var n = 0L
        var units = 0L
        while (pending.isDefined && key(pending.get) == shard) {
          units += write(bos, pending.get)
          n += 1L
          pending = if (it.hasNext) Some(it.next()) else None
        }
        (shard, n, units, bos.toByteArray)
      }
    }
}
