package graft.io

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._

/** WebDataset-style TAR shard ingestion — the de-facto container for
  * multimodal training corpora: a dataset is a directory of `.tar`
  * shards, each holding consecutive entries `key.jpg`, `key.json`,
  * `key.txt`, … where the basename groups one SAMPLE's modalities.
  *
  * Spark-first shape: `binaryFile` reads each shard as one row (shards
  * are sized for that — 100 MB-1 GB by convention), and a pure-JVM ustar
  * parser demuxes entries inside `mapPartitions` — per-shard work stays
  * on the executor that read the bytes, shards distribute row-wise, and
  * no Python/webdataset dependency exists. The parser enforces the same
  * hostile-input discipline as the WAV/AVI chunk walks: malformed sizes
  * or truncated headers fail loudly, never hang or silently truncate.
  *
  * At 100 TB: one task per shard (binaryFile's natural split), entries
  * explode output-proportionally, and sample grouping is a shuffle on
  * (shard, key) — bounded by the corpus's sample count, with the heavy
  * payload bytes moving at most once.
  */
object TarShards {

  /** Parse one ustar archive into (name, bytes) entries. Strict walk:
    * 512-byte headers, octal size at offset 124, data padded to 512;
    * two zero blocks (or EOF) terminate. Regular files only. */
  def parseTar(bytes: Array[Byte]): Seq[(String, Array[Byte])] = {
    val out = Seq.newBuilder[(String, Array[Byte])]
    var off = 0
    var done = false
    while (!done && off + 512 <= bytes.length) {
      if (bytes(off) == 0) { done = true } // zero block: end of archive
      else {
        val base = new String(bytes, off, 100, "US-ASCII").takeWhile(_ != 0.toChar)
        // ustar prefix field (offset 345): external tools split long
        // paths as prefix + '/' + name — honor it on read (the writer
        // enforces <= 100 and never needs it)
        val prefix = new String(bytes, off + 345, 155, "US-ASCII").takeWhile(_ != 0.toChar)
        val name = if (prefix.nonEmpty) s"$prefix/$base" else base
        val sizeField = new String(bytes, off + 124, 12, "US-ASCII")
          .takeWhile(c => c != 0.toChar && c != ' ')
        require(sizeField.nonEmpty && sizeField.forall(c => c >= '0' && c <= '7'),
          s"corrupt tar header at offset $off: bad size field for '$name'")
        val size = java.lang.Long.parseLong(sizeField, 8)
        require(size >= 0 && off + 512 + size <= bytes.length,
          s"corrupt tar entry '$name': size $size overruns the archive")
        val typeflag = bytes(off + 156)
        if (typeflag == '0' || typeflag == 0)
          out += (name -> java.util.Arrays.copyOfRange(
            bytes, off + 512, (off + 512 + size).toInt))
        val padded = ((size + 511) / 512) * 512
        val next = off + 512 + padded.toInt
        require(next > off, s"corrupt tar entry '$name': walk does not advance")
        off = next
      }
    }
    out.result()
  }

  /** Build a ustar archive from (name, bytes) entries — the writer twin
    * (deterministic: fixed mtime/uid/gid, so a shard's bytes depend only
    * on its content). Used to synthesize shards and to re-shard. */
  def tarBytes(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    entries.foreach { case (name, data) =>
      require(name.getBytes("US-ASCII").length <= 100, s"entry name too long: $name")
      val header = new Array[Byte](512)
      val nb = name.getBytes("US-ASCII")
      System.arraycopy(nb, 0, header, 0, nb.length)
      def oct(v: Long, len: Int, at: Int): Unit = {
        val s = ("%0" + (len - 1) + "o").format(v)
        val sb = s.getBytes("US-ASCII")
        System.arraycopy(sb, 0, header, at, sb.length)
      }
      oct(420, 8, 100) // mode 0644
      oct(0, 8, 108); oct(0, 8, 116) // uid, gid
      oct(data.length.toLong, 12, 124)
      oct(0, 12, 136) // mtime: epoch, deterministic
      java.util.Arrays.fill(header, 148, 156, ' '.toByte) // checksum spaces
      header(156) = '0' // regular file
      System.arraycopy(("ustar" + 0.toChar + "00").getBytes("US-ASCII"), 0, header, 257, 8)
      val sum = header.map(_ & 0xff).sum
      val cs = ("%06o".format(sum) + 0.toChar + " ").getBytes("US-ASCII")
      System.arraycopy(cs, 0, header, 148, 8)
      bos.write(header)
      bos.write(data)
      val pad = ((data.length + 511) / 512) * 512 - data.length
      bos.write(new Array[Byte](pad))
    }
    bos.write(new Array[Byte](1024)) // two terminating zero blocks
    bos.toByteArray
  }

  /** Deterministic synthetic webdataset directory: `nShards` shards of
    * `samplesPerShard` samples, each with jpg/json/txt modalities whose
    * sizes are closed-form in (shard, sample) — so a gate query over the
    * REAL read path can oracle entry counts and byte totals from
    * `range()` arithmetic (the m7 pattern). Returns the directory. */
  def synthesizeShards(nShards: Int, samplesPerShard: Int): String = {
    val dir = java.nio.file.Paths.get(GraftBridge.tempDir("graft_tarshards"))
    (1 to nShards).foreach { s =>
      val entries = (0 until samplesPerShard).flatMap { i =>
        val key = f"s$s%02d_$i%04d"
        Seq(
          s"$key.jpg" -> Array.fill(100 + i)((i + s).toByte),
          s"$key.json" -> s"""{"k":"$key"}""".getBytes("UTF-8"),
          s"$key.txt" -> s"caption $key".getBytes("UTF-8"))
      }
      java.nio.file.Files.write(dir.resolve(f"shard-$s%04d.tar"), tarBytes(entries))
    }
    dir.toString
  }

  /** Scan a directory of `.tar` shards into one row per ENTRY:
    * (shard, name, n_bytes, payload). One task per shard file. */
  def readEntries(spark: SparkSession, pathGlob: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(pathGlob)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, raw) =>
        // transparent gunzip for .tar.gz shards (1f 8b magic) — pure JVM
        val bytes =
          if (raw.length >= 2 && (raw(0) & 0xff) == 0x1f && (raw(1) & 0xff) == 0x8b) {
            val in = new java.util.zip.GZIPInputStream(
              new java.io.ByteArrayInputStream(raw))
            val bos = new java.io.ByteArrayOutputStream()
            val buf = new Array[Byte](1 << 16)
            var n = in.read(buf)
            while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
            bos.toByteArray
          } else raw
        parseTar(bytes).map { case (name, data) =>
          (path.substring(path.lastIndexOf('/') + 1), name, data.length.toLong, data)
        }
      }
      .toDF("shard", "name", "n_bytes", "payload")
  }

  /** Re-shard: pack entries into NEW tar shards of `samplesPerShard`
    * samples each, assigned by global key rank (deterministic — a re-run
    * produces byte-identical shards). Returns one row per output shard:
    * (shard_idx, n_samples, n_entries, payload) — tar bytes ready for
    * `ObjectStore.upload` or a binary file sink.
    *
    * Scale shape: the rank runs over DISTINCT keys (never the payload
    * rows) — but at corpus scale distinct keys ≈ samples, so a bare
    * `Window.orderBy(key)` (one SinglePartition sort of every sample id
    * — the r17 banned-window sweep's last member) is replaced by the
    * bucketed doctrine ([[graft.operators.KeyBuckets]]): the bucket id
    * is a PURE MONOTONE FUNCTION of the key — a 7-byte zero-padded
    * prefix proxy (UTF-8 bytes compare unsigned-bytewise, exactly
    * Spark's string order, so the proxy is order-preserving; prefix
    * collisions only MERGE adjacent buckets, never reorder) bucketed by
    * quantile boundaries collected ONCE and baked into the plan as
    * literals. Per-bucket `row_number` + per-bucket counts folded on
    * the driver into exclusive offsets and broadcast back give
    * offset + local rank = exact global rank. Boundary quality only
    * affects balance, never the rank.
    *
    * Why not `repartitionByRange` + `spark_partition_id()` (the r17
    * form): there the bucket id came from the PHYSICAL shuffle
    * assignment, so correctness rested on the counts job and the
    * output job seeing the identical partition layout — an implicit
    * Spark-internals guarantee (shuffle reuse surviving cache
    * eviction / executor loss). With literal boundaries the id is a
    * value-level function: any recomputation of any branch re-derives
    * the SAME bucket for every key (r17 advice).
    *
    * The heavy bytes then shuffle exactly once on their target shard
    * id, and each shard assembles in one task via the deterministic
    * writer. Entries within a shard are laid out sorted by name,
    * keeping each sample's modalities adjacent — the webdataset
    * sequential-read contract. */
  def packShards(entries: DataFrame, samplesPerShard: Int): DataFrame = {
    require(samplesPerShard >= 1)
    import entries.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val keyed = entries.withColumn("key", regexp_extract(col("name"), "^([^.]+)", 1))
    val parts = math.max(1, keyed.sparkSession.sessionState.conf.numShufflePartitions)
    // order-preserving numeric proxy of the key's string order: first 7
    // UTF-8 bytes, zero-padded (shorter keys must not outrank longer
    // siblings), as a 56-bit unsigned value — fits a BIGINT
    val proxy = expr("conv(hex(rpad(cast(key as binary), 7, x'00')), 16, 10)")
      .cast("long")
    val distinctKeys = graft.engine.BoundedCaches.persist(
      keyed.select(col("key")).distinct().withColumn("_kp", proxy))
    val bounds = graft.operators.KeyBuckets.probe(distinctKeys, "_kp", parts, 0.01)
    val ranged = distinctKeys.withColumn("_pid",
      graft.operators.KeyBuckets.pidExpr(bounds, "_kp", descending = false)
        .cast("int"))
      .repartition(col("_pid"))
    val counts = ranged.groupBy(col("_pid")).agg(count(lit(1)).as("_c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offRows = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]
    var acc = 0L
    for ((p, c) <- counts) { offRows += org.apache.spark.sql.Row(p, acc); acc += c }
    val offSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("_pid",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("_off",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val offsets = keyed.sparkSession.createDataFrame(
      java.util.Arrays.asList(offRows.toSeq: _*), offSchema)
    val keyRank = ranged
      .withColumn("_rn",
        row_number().over(Window.partitionBy(col("_pid")).orderBy(col("key")))
          .cast("long"))
      .join(broadcast(offsets), Seq("_pid"))
      .withColumn("rk", col("_rn") + col("_off") - 1)
      .withColumn("shard_idx", expr(s"rk div $samplesPerShard"))
      .select(col("key"), col("shard_idx"))
    keyed.join(keyRank, Seq("key"))
      .select(col("shard_idx"), col("key"), col("name"), col("payload"))
      .as[(Long, String, String, Array[Byte])]
      .groupByKey(_._1)
      .mapGroups { (shardIdx: Long, it: Iterator[(Long, String, String, Array[Byte])]) =>
        val rows = it.toSeq.sortBy(_._3)
        val tar = tarBytes(rows.map(r => r._3 -> r._4))
        (shardIdx, rows.map(_._2).distinct.size.toLong, rows.size.toLong, tar)
      }
      .toDF("shard_idx", "n_samples", "n_entries", "payload")
  }

  /** Group entries into SAMPLES by the webdataset key convention
    * (basename before the first dot): one row per (shard, key) with the
    * modality map ext → payload and the total byte size. */
  def samples(entries: DataFrame): DataFrame =
    entries
      .withColumn("key", regexp_extract(col("name"), "^([^.]+)", 1))
      .withColumn("ext", regexp_extract(col("name"), "\\.(.+)$", 1))
      .groupBy(col("shard"), col("key"))
      .agg(
        map_from_arrays(collect_list(col("ext")), collect_list(col("payload")))
          .as("modalities"),
        sort_array(collect_list(col("ext"))).as("exts"),
        count(lit(1)).as("n_parts"),
        sum(col("n_bytes")).as("total_bytes"))
}
