package graft

import graft.io.TarShards
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** graft.io.TarShards: byte-exact round trip through the writer/parser
  * pair, external-tool compatibility of the written archive (java's own
  * tar-reading is not in the JDK, so the pin is structural: header
  * checksum + ustar magic + 512 alignment), the webdataset sample
  * grouping, and loud failure on hostile input.
  */
class TarShardsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def entriesFor(shard: Int): Seq[(String, Array[Byte])] =
    (0 until 4).flatMap { i =>
      val key = f"s$shard%02d_$i%04d"
      Seq(
        s"$key.jpg" -> Array.fill(100 + i)((i + shard).toByte),
        s"$key.json" -> s"""{"k":"$key"}""".getBytes("UTF-8"),
        s"$key.txt" -> s"caption $key".getBytes("UTF-8"))
    }

  test("writer/parser round trip is byte-exact, padding and terminator correct") {
    val entries = entriesFor(1)
    val tar = TarShards.tarBytes(entries)
    assert(tar.length % 512 == 0, "archive must be 512-aligned")
    assert(tar.takeRight(1024).forall(_ == 0), "two zero blocks terminate")
    val back = TarShards.parseTar(tar)
    assert(back.map(_._1) == entries.map(_._1))
    back.zip(entries).foreach { case ((n, d), (en, ed)) =>
      assert(n == en && d.toSeq == ed.toSeq, s"entry $n")
    }
    // ustar magic + checksum sanity on the first header
    assert(new String(tar, 257, 5, "US-ASCII") == "ustar")
    val stored = java.lang.Long.parseLong(
      new String(tar, 148, 6, "US-ASCII"), 8)
    val recomputed = (0 until 512).map { i =>
      if (i >= 148 && i < 156) ' '.toInt else tar(i) & 0xff
    }.sum
    assert(stored == recomputed, "header checksum must verify")
  }

  test("directory of shards reads one row per entry, samples group by key") {
    val dir = java.nio.file.Paths.get(GraftBridge.tempDir("tarshards"))
    (1 to 3).foreach { s =>
      java.nio.file.Files.write(
        dir.resolve(f"shard-$s%04d.tar"), TarShards.tarBytes(entriesFor(s)))
    }
    val entries = TarShards.readEntries(spark, dir.toString + "/*.tar")
    assert(entries.count() == 3 * 4 * 3, "3 shards x 4 samples x 3 modalities")
    val samples = TarShards.samples(entries)
    assert(samples.count() == 12)
    val row = samples.filter(col("key") === "s01_0002").head()
    assert(row.getAs[Long]("n_parts") == 3)
    assert(row.getAs[scala.collection.Seq[String]]("exts").toSeq == Seq("jpg", "json", "txt"))
    val mods = row.getAs[Map[String, Array[Byte]]]("modalities")
    assert(new String(mods("txt"), "UTF-8") == "caption s01_0002")
    assert(mods("jpg").length == 102)
    // payload bytes survive the whole distributed path unmodified
    assert(mods("jpg").toSeq == Array.fill(102)(3.toByte).toSeq)
  }

  test("gzipped shards (.tar.gz) read transparently through the same path") {
    val dir = java.nio.file.Paths.get(GraftBridge.tempDir("targz"))
    val tar = TarShards.tarBytes(entriesFor(5))
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(tar); gz.close()
    java.nio.file.Files.write(dir.resolve("shard-0005.tar.gz"), bos.toByteArray)
    val entries = TarShards.readEntries(spark, dir.toString + "/*.tar.gz")
    assert(entries.count() == 12)
    val samples = TarShards.samples(entries)
    assert(samples.count() == 4)
    assert(new String(samples.filter(col("key") === "s05_0001").head()
      .getAs[Map[String, Array[Byte]]]("modalities")("txt"), "UTF-8") == "caption s05_0001")
  }

  test("re-sharding packs deterministically and round-trips every byte") {
    val dir = java.nio.file.Paths.get(GraftBridge.tempDir("reshard"))
    (1 to 2).foreach { s =>
      java.nio.file.Files.write(
        dir.resolve(f"shard-$s%04d.tar"), TarShards.tarBytes(entriesFor(s)))
    }
    val entries = TarShards.readEntries(spark, dir.toString + "/*.tar")
    val packed = TarShards.packShards(entries, samplesPerShard = 3).collect()
      .sortBy(_.getLong(0))
    assert(packed.length == 3, "8 samples at 3/shard -> 3 shards")
    assert(packed.map(_.getAs[Long]("n_samples")).toSeq == Seq(3L, 3L, 2L))
    assert(packed.map(_.getAs[Long]("n_entries")).toSeq == Seq(9L, 9L, 6L))
    // every original entry survives, byte-identical, exactly once
    val reread = packed.flatMap(r => TarShards.parseTar(r.getAs[Array[Byte]]("payload")))
      .map { case (n, d) => n -> d.toSeq }.toMap
    val original = (1 to 2).flatMap(entriesFor).map { case (n, d) => n -> d.toSeq }.toMap
    assert(reread == original)
    // determinism: a second pack is byte-identical per shard
    val again = TarShards.packShards(entries, samplesPerShard = 3).collect()
      .sortBy(_.getLong(0)).map(_.getAs[Array[Byte]]("payload").toSeq)
    assert(again.toSeq == packed.map(_.getAs[Array[Byte]]("payload").toSeq).toSeq)
  }

  test("pack bucket id is a value-level function: cache-evicted re-execution is identical") {
    // r17 advice pin: the global key rank must NOT depend on two jobs
    // seeing the same physical shuffle layout. The bucket id is a pure
    // function of the key (7-byte-prefix proxy vs literal boundaries), so
    // executing the SAME plan again after every cached block is gone — the
    // worst case of FIFO eviction / executor loss mid-query — must
    // reproduce byte-identical shards.
    val dir = java.nio.file.Paths.get(GraftBridge.tempDir("reshard_evict"))
    (1 to 2).foreach { s =>
      java.nio.file.Files.write(
        dir.resolve(f"shard-$s%04d.tar"), TarShards.tarBytes(entriesFor(s)))
    }
    val entries = TarShards.readEntries(spark, dir.toString + "/*.tar")
    val plan = TarShards.packShards(entries, samplesPerShard = 3)
    val first = plan.collect().sortBy(_.getLong(0))
      .map(_.getAs[Array[Byte]]("payload").toSeq)
    spark.catalog.clearCache()
    val second = plan.collect().sortBy(_.getLong(0))
      .map(_.getAs[Array[Byte]]("payload").toSeq)
    assert(second.toSeq == first.toSeq)
  }

  test("pack shard order follows exact string order for adversarial keys") {
    // the 7-byte proxy must be ORDER-PRESERVING under Spark's UTF-8
    // byte-wise comparison: prefix-of-sibling keys ("b" vs "ab" — the case
    // a left-aligned unpadded numeric encoding gets backwards) and keys
    // whose first 7 bytes collide (resolved by the in-bucket sort, merged
    // buckets never reorder). Keys stay ASCII — the ustar name field is
    // ASCII by contract — but '~' (0x7E, the highest printable) pins the
    // upper byte range the shard fixtures never touch.
    val keys = Seq("b", "ab", "abcdefgh_1", "abcdefgh_0", "z~a", "zz",
      "abcdefg", "a")
    val entries = keys.map(k => ("x.tar", s"$k.txt", 1L, Array(k.length.toByte)))
      .toDF("shard", "name", "n_bytes", "payload")
    val packed = TarShards.packShards(entries, samplesPerShard = 2)
      .collect().sortBy(_.getLong(0))
    val inOrder = packed.flatMap(r =>
      TarShards.parseTar(r.getAs[Array[Byte]]("payload")).map(_._1))
    // UTF8 byte order == java String compareTo for these (no surrogates)
    val expected = keys.sorted.map(_ + ".txt")
    assert(inOrder.toSeq == expected,
      s"global shard traversal must equal the exact sorted key order")
  }

  test("ustar prefix field (long external paths) honored on read") {
    // hand-build a header using the prefix split, as external tools do
    val data = "deep".getBytes
    val tar = TarShards.tarBytes(Seq("leaf.txt" -> data))
    val withPrefix = tar.clone()
    val p = "some/deep/dir".getBytes("US-ASCII")
    System.arraycopy(p, 0, withPrefix, 345, p.length)
    // fix the checksum after mutating the header
    java.util.Arrays.fill(withPrefix, 148, 156, ' '.toByte)
    val sum = (0 until 512).map(i => withPrefix(i) & 0xff).sum
    val cs = ("%06o".format(sum) + 0.toChar + " ").getBytes("US-ASCII")
    System.arraycopy(cs, 0, withPrefix, 148, 8)
    val back = TarShards.parseTar(withPrefix)
    assert(back.map(_._1) == Seq("some/deep/dir/leaf.txt"))
    assert(back.head._2.toSeq == data.toSeq)
  }

  test("scratch directories live under java.io.tmpdir and are deleted at JVM exit") {
    val dir = GraftBridge.tempDir("graft_probe")
    val f = new java.io.File(dir)
    assert(f.isDirectory && f.getName.startsWith("graft_probe"))
    assert(f.getParentFile.getCanonicalPath ==
      new java.io.File(System.getProperty("java.io.tmpdir")).getCanonicalPath)
    assert(org.apache.spark.TestBridge.deletedAtExit(dir))
    val shards = TarShards.synthesizeShards(1, 1)
    assert(new java.io.File(shards, "shard-0001.tar").isFile)
    assert(org.apache.spark.TestBridge.deletedAtExit(shards))
    val control = java.nio.file.Files.createTempDirectory("graft_control")
    try assert(!org.apache.spark.TestBridge.deletedAtExit(control.toString),
      "control: a plain temp directory is not registered")
    finally java.nio.file.Files.delete(control)
  }

  test("s4, s7, s8 and s9 read a fresh scratch directory under java.io.tmpdir per build") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir")).getCanonicalPath
    def scratchOf(name: String): String = {
      val files = SparkEntry.queries(name)(spark, TestSpark.sfDir).inputFiles
      assert(files.nonEmpty, name)
      // <tmpdir>/<prefix>-<uuid>/... : the directory directly under tmpdir
      val dirs = files.map { f =>
        var p = new java.io.File(new java.net.URI(f)).getCanonicalFile
        while (p.getParentFile != null && p.getParentFile.getPath != tmp) p = p.getParentFile
        assert(p.getParentFile != null, s"$name reads $f outside $tmp")
        p.getPath
      }.distinct
      assert(dirs.length == 1, s"$name reads ${dirs.toSeq}")
      dirs.head
    }
    for (q <- Seq("s4_csv_roundtrip", "s7_jsonl_roundtrip", "s8_partition_pruned_scan",
        "s9_orc_roundtrip")) {
      val (a, b) = (scratchOf(q), scratchOf(q))
      assert(a != b, s"$q: two builds share $a")
    }
  }

  test("hostile input fails loudly: bad size field, overrun, non-advancing walk") {
    val good = TarShards.tarBytes(Seq("a.txt" -> "hello".getBytes))
    // corrupt the size field with non-octal garbage
    val badSize = good.clone(); badSize(124) = 'Z'.toByte
    val e1 = intercept[IllegalArgumentException](TarShards.parseTar(badSize))
    assert(e1.getMessage.contains("bad size field"))
    // declare a size that overruns the archive
    val overrun = good.clone()
    "77777777777".getBytes.copyToArray(overrun, 124)
    val e2 = intercept[IllegalArgumentException](TarShards.parseTar(overrun))
    assert(e2.getMessage.contains("overruns"))
  }
}
