package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.io.TfRecordExport
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class TfRecordExportSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType)))

  test("GOLDEN BYTES: the hand-derived tf.train.Example wire encoding from the public spec") {
    // Example{features{feature{"a": int64_list{value:[5]}}}} derived by
    // hand from example.proto/feature.proto:
    //   Int64List.value packed: 0A 01 05
    //   Feature.int64_list(3):  1A 03 0A 01 05
    //   entry key(1)="a", value(2)=Feature: 0A 01 61 12 05 1A 03 0A 01 05
    //   Features.feature(1):    0A 0A <entry>
    //   Example.features(1):    0A 0C <features>
    val row = org.apache.spark.sql.Row(5L)
    val got = TfRecordExport.exampleBytes(
      StructType(Seq(StructField("a", LongType))), row)
    val want = Array(0x0a, 0x0c, 0x0a, 0x0a, 0x0a, 0x01, 0x61, 0x12, 0x05,
      0x1a, 0x03, 0x0a, 0x01, 0x05).map(_.toByte)
    assert(got.toSeq == want.toSeq,
      s"got ${got.map(b => f"$b%02x").mkString(" ")}")
  }

  test("round-trip: values, nulls, empty strings, negative longs, multi-shard") {
    val dir = GraftBridge.tempDir("tfrt")
    val df = spark.range(0, 500).select(
      when(col("id") % 7 === 0, lit(null)).otherwise(col("id") - 250).as("id"),
      when(col("id") % 11 === 0, lit(null))
        .when(col("id") % 13 === 0, lit(""))
        .otherwise(concat(lit("n"), col("id"))).as("name"))
      .repartition(3)
    val manifest = TfRecordExport.writeShards(df, dir)
      .as[(String, Long, Long)].collect()
    assert(manifest.length == 3 && manifest.map(_._2).sum == 500L)
    val back = TfRecordExport.readShards(spark, dir, schema)
    assert(back.exceptAll(df).unionAll(df.exceptAll(back)).count() == 0L,
      "round-trip must preserve every row incl. nulls, empties, negatives")
  }

  test("reader verifies the masked CRC32C and refuses corruption loudly") {
    val dir = GraftBridge.tempDir("tfcrc")
    TfRecordExport.writeShards(
      spark.range(10).select(col("id"), lit("x").as("name")).repartition(1), dir)
      .collect()
    val f = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".tfrecord")).head
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    bytes(15) = (bytes(15) ^ 0x40).toByte // flip a payload bit
    java.nio.file.Files.write(f.toPath, bytes)
    val err = intercept[Exception] {
      TfRecordExport.readShards(spark, dir, schema).count()
    }
    val msg = err.getMessage + Option(err.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("CRC"), msg.take(300))
  }

  test("re-export with fewer partitions clears stale shards; writes are deterministic") {
    val dir = GraftBridge.tempDir("tfre")
    def frame(n: Long, parts: Int) = spark.range(0, n)
      .select(col("id"), concat(lit("n"), col("id")).as("name")).repartition(parts)
    TfRecordExport.writeShards(frame(100, 5), dir).collect()
    TfRecordExport.writeShards(frame(40, 2), dir).collect()
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".tfrecord"))
    assert(files.length == 2, files.map(_.getName).toSeq.toString)
    assert(TfRecordExport.readShards(spark, dir, schema).count() == 40L)
    // determinism: same frame written twice gives byte-identical shards
    val dir2 = GraftBridge.tempDir("tfdet")
    TfRecordExport.writeShards(frame(40, 2), dir2).collect()
    val a = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".tfrecord"))
      .sortBy(_.getName).map(f => java.nio.file.Files.readAllBytes(f.toPath).toSeq)
    val b = new java.io.File(dir2).listFiles().filter(_.getName.endsWith(".tfrecord"))
      .sortBy(_.getName).map(f => java.nio.file.Files.readAllBytes(f.toPath).toSeq)
    assert(a.toSeq == b.toSeq, "shard bytes must be deterministic")
  }

  test("unsupported column types refuse loudly with the column name") {
    val err = intercept[IllegalArgumentException] {
      TfRecordExport.writeShards(
        spark.range(3).select(col("id"), (col("id") * 1.5).as("score")),
        GraftBridge.tempDir("tfbad"))
    }
    assert(err.getMessage.contains("score"), err.getMessage)
  }
}
