package graft.queries

import graft.io.Tables
import org.apache.spark.sql.{GraftBridge, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scan/source operators (SURVEY §2.1: S1/S4/S5/S6; S2 column pruning is
  * exercised implicitly by every query — Catalyst prunes the parquet scan).
  * S1-S3 JDBC variants live in [[graft.io.Jdbc]] (no database in the test
  * environment); their scan shape is covered here on parquet.
  */
object ScanQueries {

  val defs: Seq[QueryDef] = Seq(

    // S1: full-table scan, row count + key range (the reference logs counts
    // on every extract, src/utils.py:180).
    QueryDef.sql(
      "s1_full_scan",
      """SELECT COUNT(*) AS cnt, MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key,
        |       COUNT(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem""".stripMargin) { (spark, dir) =>
      Tables.load(spark, dir, "lineitem")
        .agg(
          count(lit(1)).as("cnt"),
          min(col("l_orderkey")).as("min_key"),
          max(col("l_orderkey")).as("max_key"),
          countDistinct(col("l_orderkey")).as("n_orders"))
    },

    // S4: CSV scan with explicit schema overrides (src/utils.py:184-203) —
    // round-trips nation through the reference's CSV export layout (K3,
    // one headered file per table); values must survive exactly.
    QueryDef.sql(
      "s4_csv_roundtrip",
      "SELECT n_nationkey, n_name, n_regionkey FROM nation") { (spark, dir) =>
      val nation = Tables.load(spark, dir, "nation")
      val tmp = s"${GraftBridge.tempDir("graft_csv")}/nation.csv"
      graft.io.CsvExport.exportFrame(nation, tmp)
      val schema = StructType(Seq(
        StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType)))
      spark.read.option("header", "true").schema(schema).csv(tmp)
    },

    // S5: literal single-row frame (synthesized fallback row, src/auac.py:84-96).
    QueryDef.sql(
      "s5_literal_row",
      "SELECT 1 AS id, 'fallback' AS name, DATE '2024-01-01' AS created") { (spark, _) =>
      import spark.implicits._
      Seq((1, "fallback", java.sql.Date.valueOf("2024-01-01")))
        .toDF("id", "name", "created")
    },

    // S6: empty typed frame + U2 union (src/core.py:998-1004) — an empty
    // DataFrame with a declared schema unions losslessly with real data.
    QueryDef.sql(
      "s6_empty_typed_union",
      "SELECT n_nationkey, n_name, n_regionkey FROM nation") { (spark, dir) =>
      val nation = Tables.load(spark, dir, "nation")
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], nation.schema)
      empty.unionByName(nation)
    },

    // S7: JSON-lines round-trip — THE interchange format of training-data
    // pipelines (one JSON doc per line, splittable, append-friendly). The
    // gate proves write→read is lossless against the original parquet
    // values, including JSON string escaping of whatever the text column
    // carries. Explicit read schema, never inference: schema inference is
    // a full extra pass at 100 TB and can silently widen types.
    QueryDef.sql(
      "s7_jsonl_roundtrip",
      "SELECT doc_id, text, lang, source, n_chars FROM documents") { (spark, dir) =>
      val docs = Tables.load(spark, dir, "documents")
        .select("doc_id", "text", "lang", "source", "n_chars")
      val tmp = GraftBridge.tempDir("graft_jsonl")
      docs.write.mode("overwrite").json(tmp)
      spark.read.schema(docs.schema).json(tmp)
    },

    // S8: hive-partitioned parquet layout + partition-pruned read-back —
    // THE 100 TB access pattern: a filter on the partition column must
    // resolve in the file index (directories never listed, let alone
    // read), not as a post-scan predicate. The gate checks value fidelity
    // through the partitioned layout; LayoutSpec pins PartitionFilters in
    // the read-back plan so pruning can't silently regress to a full scan.
    QueryDef.sql(
      "s8_partition_pruned_scan",
      """SELECT doc_id, lang, n_chars, source FROM documents
        |WHERE source IN ('src2', 'src5')""".stripMargin) { (spark, dir) =>
      val tmp = GraftBridge.tempDir("graft_part")
      graft.io.Layout.writePartitioned(
        Tables.load(spark, dir, "documents").select("doc_id", "lang", "n_chars", "source"),
        tmp, Seq("source"))
      spark.read.parquet(tmp)
        .filter(col("source").isin("src2", "src5"))
        .select("doc_id", "lang", "n_chars", "source")
    },

    // S9: ORC round-trip — the remaining columnar interchange format
    // (Hive-ecosystem tables arrive as ORC as often as parquet). Lossless
    // write→read against the original values, explicit schema, same
    // doctrine as s7's JSONL gate.
    QueryDef.sql(
      "s9_orc_roundtrip",
      "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders") { (spark, dir) =>
      val orders = Tables.load(spark, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      val tmp = GraftBridge.tempDir("graft_orc")
      orders.write.mode("overwrite").orc(tmp)
      spark.read.schema(orders.schema).orc(tmp)
    },

    // S10: webdataset TAR shard ingestion — the multimodal-corpus
    // container: binaryFile reads each shard whole (one task per shard),
    // the pure-JVM ustar walk demuxes entries executor-side, and samples
    // group by the basename key. The synthetic directory's entry sizes
    // are closed-form in (shard, sample), so the REAL read path's counts
    // and byte totals hash against range() arithmetic (the m7 pattern):
    // jpg = 100+i bytes, json/txt = 16 bytes each for these keys.
    QueryDef.sql(
      "s10_tar_shard_scan",
      """SELECT 'shard-000' || CAST(s AS VARCHAR) || '.tar' AS shard,
        |  's0' || CAST(s AS VARCHAR) || '_000' || CAST(i AS VARCHAR) AS key,
        |  CAST(3 AS BIGINT) AS n_parts,
        |  CAST(132 + i AS BIGINT) AS total_bytes
        |FROM range(1, 4) t(s) CROSS JOIN range(4) u(i)""".stripMargin) { (spark, _) =>
      import graft.io.TarShards
      val dir = TarShards.synthesizeShards(nShards = 3, samplesPerShard = 4)
      TarShards.samples(TarShards.readEntries(spark, dir + "/*.tar"))
        .select(col("shard"), col("key"), col("n_parts"), col("total_bytes"))
    },

    // S11: deterministic TAR re-sharding — the write half of the
    // webdataset path (read 3×4 shards, re-pack at 5 samples/shard).
    // Assignment is by global key rank, so shard populations are pure
    // arithmetic: 12 keys / 5 per shard → 5,5,2. And because the writer
    // is deterministic (fixed mtime/uid/gid, 512-byte blocks, names
    // sorted within a shard), the OUTPUT TAR's byte size is closed-form
    // too: every modality payload here is ≤512 bytes, so each entry costs
    // exactly 1024 bytes (header + one padded block), each sample 3072,
    // plus the 1024-byte terminator — the driver hashes the re-shard's
    // real output bytes against range() arithmetic, not just its row
    // counts.
    QueryDef.sql(
      "s11_tar_reshard",
      """SELECT CAST(x AS BIGINT) AS shard_idx,
        |  CAST(CASE WHEN x < 2 THEN 5 ELSE 2 END AS BIGINT) AS n_samples,
        |  CAST(CASE WHEN x < 2 THEN 15 ELSE 6 END AS BIGINT) AS n_entries,
        |  CAST(CASE WHEN x < 2 THEN 5 ELSE 2 END * 3072 + 1024 AS BIGINT) AS tar_bytes
        |FROM range(3) t(x)""".stripMargin) { (spark, _) =>
      import graft.io.TarShards
      val dir = TarShards.synthesizeShards(nShards = 3, samplesPerShard = 4)
      TarShards.packShards(TarShards.readEntries(spark, dir + "/*.tar"), 5)
        .select(col("shard_idx"), col("n_samples"), col("n_entries"),
          length(col("payload")).cast("long").as("tar_bytes"))
    },

    // S12: k-COLUMN Z-ORDER interleave (expr.ZValue.zValueN — the
    // composed-bit-arithmetic generalization of o2's codegen'd 2-column
    // spread chain), hash-gated against the same Morton interleave
    // written out as explicit DuckDB bit arithmetic. The row-group
    // pruning effect of the layout built on this key is measured in
    // ZOrderSpec; the gate proves both engines agree on every
    // interleaved value, so the layout sorts by exactly the curve it
    // claims.
    QueryDef.sql(
      "s12_zorder_interleave", {
        val terms = (0 until 8).flatMap(b => Seq(
          s"(((x >> $b) & 1) << ${2 * b})",
          s"(((y >> $b) & 1) << ${2 * b + 1})"))
        s"""WITH g AS (
           |  SELECT s_suppkey, s_suppkey % 256 AS x, (s_suppkey * 7) % 256 AS y
           |  FROM supplier)
           |SELECT s_suppkey, CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
           |  CAST(${terms.mkString(" | ")} AS BIGINT) AS z
           |FROM g""".stripMargin
      }) { (spark, dir) =>
      import graft.functions.expr.ZValue
      Tables.load(spark, dir, "supplier")
        .select(
          col("s_suppkey"),
          (col("s_suppkey") % 256).cast("long").as("x"),
          (col("s_suppkey") * 7 % 256).cast("long").as("y"))
        .withColumn("z", ZValue.zValueN(Seq(col("x"), col("y")), 8))
    },

    // S13: dataset content fingerprint — the versioning/corruption check
    // a published dataset ships with (did any row change between this
    // copy and that one?): per table, row count + an ORDER-INDEPENDENT
    // content hash = the exact DECIMAL(38,0) sum of a 60-bit per-row
    // digest (first 15 hex chars of md5 over the '|'-joined canonical
    // row string). Commutative integer addition ⇒ identical across
    // engines, partitionings, shard layouts, and row orders; any single
    // flipped byte moves it. One scan + map-side-combined fold per
    // table; columns are the caller's pick (doubles excluded here — IEEE
    // rendering is not an engine-portable canonical form).
    QueryDef.sql(
      "s13_dataset_fingerprint", {
        def one(t: String, cols: Seq[String]) = {
          val s = cols.map(c => s"CAST($c AS VARCHAR)").mkString(", ")
          s"""SELECT '$t' AS table_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
             |  CAST(CAST(SUM(CAST('0x' || substring(md5(concat_ws('|', $s)), 1, 15) AS BIGINT))
             |       AS DECIMAL(38,0)) AS VARCHAR) AS content_fp
             |FROM $t""".stripMargin
        }
        Seq(
          one("region", Seq("r_regionkey", "r_name")),
          one("nation", Seq("n_nationkey", "n_name", "n_regionkey")),
          one("supplier", Seq("s_suppkey", "s_name", "s_nationkey")),
          one("documents", Seq("doc_id", "text", "lang", "source", "n_chars")))
          .mkString("\nUNION ALL\n")
      }) { (spark, dir) =>
      def one(t: String, cols: Seq[String]) =
        Tables.load(spark, dir, t)
          .select(concat_ws("|", cols.map(c => col(c).cast("string")): _*).as("s"))
          .select(conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("h"))
          .agg(count(lit(1)).as("n_rows"),
            // VARCHAR, not DECIMAL(38,0): the driver's pandas conversion
            // renders a wide decimal as float64 ('1.54e+19') while the
            // Spark parquet read-back stays exact — the j2 mechanism.
            sum(col("h").cast("decimal(38,0)")).cast("string").as("content_fp"))
          .select(lit(t).as("table_name"), col("n_rows"), col("content_fp"))
      Seq(
        one("region", Seq("r_regionkey", "r_name")),
        one("nation", Seq("n_nationkey", "n_name", "n_regionkey")),
        one("supplier", Seq("s_suppkey", "s_name", "s_nationkey")),
        one("documents", Seq("doc_id", "text", "lang", "source", "n_chars")))
        .reduce(_ unionAll _)
    },

    // S14: rendezvous (highest-random-weight) sharding — stable shard
    // placement for incrementally published datasets: growing 10 -> 11
    // shards, a key moves ONLY if the new shard wins its argmax, so
    // every move lands on shard 10 and existing shards never exchange
    // data (naive hash-mod-n reshuffles ~everything). The gate hashes
    // the full 10->11 movement matrix AND the theorem itself as a
    // per-row boolean (stay, or move to the NEW shard — nothing else is
    // possible); ties are arithmetically impossible (prime modulus, see
    // functions/Rendezvous), so both argmaxes need no tie rule. The
    // assignment is a codegen'd greatest-of-structs narrow map — no
    // explode, no shuffle beyond the matrix rollup.
    QueryDef.sql(
      "s14_rendezvous_sharding", {
        val mults = (0 until 11)
          .map(s => s"($s, ${graft.functions.Rendezvous.multiplier(s)})")
          .mkString(", ")
        s"""WITH d AS (SELECT doc_id FROM documents),
        |ms(s, ps) AS (VALUES $mults),
        |s10 AS (SELECT CAST(s AS INT) AS s, ps FROM ms WHERE s < 10),
        |s11 AS (SELECT CAST(s AS INT) AS s, ps FROM ms),
        |g10 AS (SELECT doc_id, s,
        |          ((doc_id % 1000003 + 1) * ps) % 1000000007 AS w
        |        FROM d CROSS JOIN s10),
        |g11 AS (SELECT doc_id, s,
        |          ((doc_id % 1000003 + 1) * ps) % 1000000007 AS w
        |        FROM d CROSS JOIN s11),
        |a10 AS (SELECT q.doc_id, q.s AS a10 FROM g10 q
        |        JOIN (SELECT doc_id, MAX(w) AS mw FROM g10 GROUP BY 1) m
        |          ON q.doc_id = m.doc_id AND q.w = m.mw),
        |a11 AS (SELECT q.doc_id, q.s AS a11 FROM g11 q
        |        JOIN (SELECT doc_id, MAX(w) AS mw FROM g11 GROUP BY 1) m
        |          ON q.doc_id = m.doc_id AND q.w = m.mw)
        |SELECT a10.a10, a11.a11, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  (a10.a10 = a11.a11 OR a11.a11 = 10) AS stable_or_new
        |FROM a10 JOIN a11 ON a10.doc_id = a11.doc_id
        |GROUP BY 1, 2""".stripMargin
      }) { (spark, dir) =>
      import graft.functions.Rendezvous
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"),
          Rendezvous.assign(col("doc_id"), 10).as("a10"),
          Rendezvous.assign(col("doc_id"), 11).as("a11"))
        .groupBy(col("a10"), col("a11"))
        .agg(count(lit(1)).as("n_docs"))
        .select(col("a10"), col("a11"), col("n_docs"),
          (col("a10") === col("a11") || col("a11") === 10).as("stable_or_new"))
    },

    // S16: TFRecord shard round-trip (io/TfRecordExport) — the
    // training-data container of the TF/JAX stacks, hand-built from the
    // PUBLIC specs (length + masked-CRC32C framing, tf.train.Example
    // protobuf wire format; a golden-bytes spec pins the encoding
    // byte-for-byte against a hand derivation). Same bound-audit shape
    // as s15: write the documents manifest as 4 shards, read every
    // record back through the CRC-verifying parser, hash the theorems
    // beside exact values. A writer that mis-frames a record, drops a
    // null-feature convention, or mis-masks a CRC fails on a value.
    QueryDef.sql(
      "s16_tfrecord_shards",
      """SELECT CAST(4 AS INT) AS n_shards,
        |  CAST(COUNT(*) AS BIGINT) AS total_rows,
        |  TRUE AS roundtrip_identical, TRUE AS shards_nonempty
        |FROM documents""".stripMargin) { (spark, dir) =>
      import graft.io.TfRecordExport
      import org.apache.spark.sql.types._
      val sel = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("text"), col("source"))
      val tmp = GraftBridge.tempDir("graft_tfrecord")
      val manifest = TfRecordExport
        .writeShards(sel.repartition(4, col("doc_id")), tmp)
        .collect() // 4-row manifest — bounded, and materializes the write
      val schema = StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType), StructField("source", StringType)))
      val back = TfRecordExport.readShards(spark, tmp, schema)
      val diff = back.exceptAll(sel).unionAll(sel.exceptAll(back)).count()
      spark.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(
          manifest.length, manifest.map(_.getLong(1)).sum,
          diff == 0L, manifest.forall(_.getLong(1) > 0L))),
        StructType(Seq(StructField("n_shards", IntegerType, nullable = false),
          StructField("total_rows", LongType, nullable = false),
          StructField("roundtrip_identical", BooleanType, nullable = false),
          StructField("shards_nonempty", BooleanType, nullable = false))))
    },

    // S17: WARC crawl-archive round-trip (io/WarcIo — ISO 28500, the
    // public CommonCrawl format): the INPUT side of a web-corpus engine.
    // Unlike the s15/s16 boolean audits this gate hashes FULL VALUES:
    // every response record written shard-wise (with the spec's warcinfo
    // preamble per shard) comes back through the REAL Content-Length-
    // driven parser + HTTP splitter, and the oracle REBUILDS uri /
    // record-id / content-length / status / body from the documents
    // table by arithmetic — content_length = 45 header bytes +
    // strlen(text) pins the byte accounting, and the warcinfo preamble
    // must be filtered by type (a parser that returns it adds rows and
    // fails the hash).
    QueryDef.sql(
      "s17_warc_roundtrip",
      """SELECT 'response' AS warc_type,
        |  'https://example.com/doc/' || CAST(doc_id AS VARCHAR) AS target_uri,
        |  '<urn:graft:' || CAST(doc_id AS VARCHAR) || '>' AS record_id,
        |  CAST(45 + strlen(text) AS BIGINT) AS content_length,
        |  CAST(200 AS INT) AS http_status, text AS body
        |FROM documents""".stripMargin) { (spark, dir) =>
      import graft.io.WarcIo
      val docs = Tables.load(spark, dir, "documents").select(
        col("doc_id").cast("long").as("id"),
        concat(lit("https://example.com/doc/"), col("doc_id")).as("uri"),
        col("text").as("body"))
      val tmp = GraftBridge.tempDir("graft_warc")
      WarcIo.writeShards(docs.repartition(4, col("id")), tmp).collect()
      WarcIo.readResponses(spark, tmp)
    },

    // S18: the WARC → WET pipeline (io/WarcIo + functions/HtmlText) —
    // raw crawl to corpus text, END TO END through real bytes: each doc
    // becomes a full HTML page (title, script/style junk, entities, the
    // body text), goes INTO WARC shards on disk, back OUT through the
    // Content-Length parser + HTTP splitter, and through the WET
    // extractor. The oracle states the expected clean text in CLOSED
    // FORM from the documents table — it never runs a regex over HTML —
    // so the whole chain (WARC framing, HTTP split, script/style block
    // drop, tag→space, entity decode ORDER, whitespace collapse) must
    // compose exactly. The planted entities make the decode-order laws
    // load-bearing: "&amp;lt;" must surface as literal "&lt;"-decoded
    // "<tag>" only via the lt/gt path, and '&amp;' last.
    QueryDef.sql(
      "s18_warc_wet_extraction",
      """SELECT 'https://example.com/doc/' || CAST(doc_id AS VARCHAR) AS target_uri,
        |  'Doc ' || CAST(doc_id AS VARCHAR) || ' Doc "' || CAST(doc_id AS VARCHAR)
        |    || '" ' || trim(regexp_replace(text, '\s+', ' ', 'g'))
        |    || ' A & B <tag> ''q'' end' AS clean_text
        |FROM documents""".stripMargin) { (spark, dir) =>
      import graft.functions.HtmlText
      import graft.io.WarcIo
      val html = concat(
        lit("<html><head><title>Doc "), col("doc_id"),
        lit("</title><script type=\"x\">var a=1; if(a<2){alert('&amp;')}</script>"),
        lit("<style>p {color:red}</style></head><body><h1>Doc &quot;"),
        col("doc_id"),
        lit("&quot;</h1><p>"), col("text"),
        lit("</p><p>A &amp; B &lt;tag&gt; &#39;q&#39;&nbsp;end</p></body></html>"))
      val docs = Tables.load(spark, dir, "documents").select(
        col("doc_id").cast("long").as("id"),
        concat(lit("https://example.com/doc/"), col("doc_id")).as("uri"),
        html.as("body"))
      val tmp = GraftBridge.tempDir("graft_wet")
      WarcIo.writeShards(docs.repartition(4, col("id")), tmp).collect()
      WarcIo.readResponses(spark, tmp)
        .select(col("target_uri"), HtmlText.extract(col("body")).as("clean_text"))
    },

    // S19: the WARC → WAT pipeline (io/WarcIo + functions/WatMeta) —
    // completing the WARC/WAT/WET triple: where s18 keeps the visible
    // TEXT, this keeps the page METADATA — head title and the outgoing
    // link edges that make the web graph. End to end through real
    // bytes (the s18 discipline): each doc becomes an HTML page with a
    // title and 2-or-3 anchors, goes INTO WARC shards on disk, back OUT
    // through the Content-Length parser + HTTP splitter, then title /
    // href extraction + RFC 3986 resolution. The oracle states every
    // link row in CLOSED FORM — it never parses HTML — so anchor-only
    // matching (the <link href> must NOT surface), both quote styles,
    // case-insensitive HREF, document-order positions, and all three
    // resolution laws (root-relative → origin, absolute kept, relative
    // → base directory merge) are load-bearing in the hash.
    QueryDef.sql(
      "s19_warc_wat_metadata",
      """WITH d AS (SELECT doc_id,
        |  'https://example.com/doc/' || CAST(doc_id AS VARCHAR) AS uri FROM documents)
        |SELECT uri AS target_uri, 'Doc ' || CAST(doc_id AS VARCHAR) AS title,
        |  CAST(1 AS INT) AS link_pos,
        |  '/l/' || CAST(doc_id AS VARCHAR) || '/1' AS href,
        |  'https://example.com/l/' || CAST(doc_id AS VARCHAR) || '/1' AS abs_url
        |FROM d
        |UNION ALL SELECT uri, 'Doc ' || CAST(doc_id AS VARCHAR), CAST(2 AS INT),
        |  'https://ext.example.org/p' || CAST(doc_id AS VARCHAR),
        |  'https://ext.example.org/p' || CAST(doc_id AS VARCHAR)
        |FROM d
        |UNION ALL SELECT uri, 'Doc ' || CAST(doc_id AS VARCHAR), CAST(3 AS INT),
        |  'rel/' || CAST(doc_id AS VARCHAR),
        |  'https://example.com/doc/rel/' || CAST(doc_id AS VARCHAR)
        |FROM d WHERE doc_id % 2 = 0""".stripMargin) { (spark, dir) =>
      import graft.functions.WatMeta
      import graft.io.WarcIo
      val thirdLink = when(pmod(col("doc_id"), lit(2L)) === 0,
        concat(lit("<a class=\"x\" href='rel/"), col("doc_id"), lit("'>three</a>")))
        .otherwise(lit(""))
      val html = concat(
        lit("<html><head><title>Doc "), col("doc_id"),
        lit("</title><link href=\"/style.css\" rel=\"stylesheet\"></head><body>"),
        lit("<a href=\"/l/"), col("doc_id"), lit("/1\">one</a> "),
        lit("<A HREF='https://ext.example.org/p"), col("doc_id"), lit("'>two</A> "),
        thirdLink,
        lit("<a name=\"anchor\">no href</a><p>"), col("text"),
        lit("</p></body></html>"))
      val docs = Tables.load(spark, dir, "documents").select(
        col("doc_id").cast("long").as("id"),
        concat(lit("https://example.com/doc/"), col("doc_id")).as("uri"),
        html.as("body"))
      val tmp = GraftBridge.tempDir("graft_wat")
      WarcIo.writeShards(docs.repartition(4, col("id")), tmp).collect()
      WarcIo.readResponses(spark, tmp)
        .select(col("target_uri"), WatMeta.title(col("body")).as("title"),
          posexplode(WatMeta.hrefs(col("body"))).as(Seq("p", "href")))
        .select(col("target_uri"), col("title"),
          (col("p") + 1).cast("int").as("link_pos"), col("href"),
          WatMeta.resolve(col("target_uri"), col("href")).as("abs_url"))
    },

    // S20: schema-evolution read (Tables.loadMerged) — how a 100 TB
    // table accretes columns over months of ingest without rewriting
    // history: batch 1 was written before `lang`/`n_chars` existed,
    // batch 2 after `text` was dropped from the extract; a mergeSchema
    // read over the partitioned layout surfaces the WIDEST schema with
    // NULLs where a batch predates a column, plus the batch partition
    // column from directory discovery. Previously spec-only
    // (PipelineIoSpec); this puts the whole merged projection —
    // values, NULL pattern, partition column — in the driver hash.
    QueryDef.sql(
      "s20_schema_merge_read",
      """SELECT doc_id, text, NULL AS lang, CAST(NULL AS BIGINT) AS n_chars,
        |  CAST(1 AS INT) AS batch FROM documents
        |UNION ALL SELECT doc_id, NULL, lang, CAST(n_chars AS BIGINT), 2
        |FROM documents""".stripMargin) { (spark, dir) =>
      val docs = Tables.load(spark, dir, "documents")
      val tmp = GraftBridge.tempDir("graft_evolve")
      docs.select(col("doc_id"), col("text"))
        .write.mode("overwrite").parquet(s"$tmp/batch=1")
      docs.select(col("doc_id"), col("lang"), col("n_chars").cast("long").as("n_chars"))
        .write.mode("overwrite").parquet(s"$tmp/batch=2")
      Tables.loadMerged(spark, tmp)
        .select(col("doc_id"), col("text"), col("lang"), col("n_chars"),
          col("batch").cast("int").as("batch"))
    },

    // S21: small-file compaction (io/Compaction — the OPTIMIZE
    // primitive, previously spec-only): 16 tiny ingest files rewrite
    // into ~quarter-of-input-byte outputs through Compaction.compact's
    // real path — footer-metadata byte accounting, fresh-directory
    // write (SaveMode.ErrorIfExists: overwriting in place would lose
    // the source on a mid-write failure), maxRecordsPerFile density
    // cap. The s15/s16 audit shape: exact row count beside hashed
    // THEOREMS — the rewrite loses no rows (exceptAll both ways), the
    // stats manifest's row count matches, and the file count strictly
    // shrank. (The exact output count is maxRecordsPerFile-dependent by
    // design, so the gate pins the contract, not the constant.)
    QueryDef.sql(
      "s21_compaction",
      """SELECT CAST(COUNT(*) AS BIGINT) AS total_rows,
        |  CAST(16 AS BIGINT) AS n_input_files,
        |  TRUE AS roundtrip_identical, TRUE AS stats_rows_match,
        |  TRUE AS fewer_files
        |FROM documents""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.types._
      val sel = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("text"), col("source"))
      val tmp = GraftBridge.tempDir("graft_compact")
      sel.repartition(16, col("doc_id")).write.mode("overwrite").parquet(s"$tmp/in")
      val inBytes = {
        val hp = new org.apache.hadoop.fs.Path(s"$tmp/in")
        val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.listStatus(hp).filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
          .map(_.getLen).sum
      }
      val target = math.max(1L, inBytes / 4)
      val stats = graft.io.Compaction.compact(spark, s"$tmp/in", s"$tmp/out", target)
      val back = spark.read.parquet(s"$tmp/out")
      val diff = back.exceptAll(sel).unionAll(sel.exceptAll(back)).count()
      val rows = back.count()
      spark.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(
          rows, stats.filesBefore,
          diff == 0L, stats.rows == rows, stats.filesAfter < stats.filesBefore)),
        StructType(Seq(StructField("total_rows", LongType, nullable = false),
          StructField("n_input_files", LongType, nullable = false),
          StructField("roundtrip_identical", BooleanType, nullable = false),
          StructField("stats_rows_match", BooleanType, nullable = false),
          StructField("fewer_files", BooleanType, nullable = false))))
    },

    // S22: WARC capture-triple → request-side WAT (io/WarcIo withCapture
    // + readRequests/readMetadata) — completing ISO 28500 record-type
    // coverage beside s17's responses: a real crawl archive stores
    // request + response + metadata per capture, and the WAT the crawl
    // community publishes includes the REQUEST headers (method, path,
    // Host, User-Agent) and fetch metadata. End to end through real
    // bytes (the s17 discipline): capture triples go INTO shards on
    // disk, request records come back OUT through the Content-Length
    // parser + the HTTP REQUEST-line splitter, warc-fields metadata
    // parses per line, and the two views JOIN on WARC-Concurrent-To —
    // the spec's record-linkage header, so the id plumbing is
    // load-bearing in the hash. The oracle rebuilds every field in
    // closed form, content_length by constructing the exact request
    // payload string; a reader that returned responses too would add
    // rows and fail. Scale shape: readers are one shard per task,
    // no shuffle; the request⋈metadata join keys on the capture id
    // (both sides record-scale — at 100 TB a sort-merge join on the
    // id, no driver state).
    QueryDef.sql(
      "s22_warc_request_wat",
      """WITH d AS (SELECT doc_id,
        |  'https://example.com/doc/' || CAST(doc_id AS VARCHAR) AS uri,
        |  '/doc/' || CAST(doc_id AS VARCHAR) AS pth FROM documents)
        |SELECT uri AS target_uri,
        |  '<urn:graft:req:' || CAST(doc_id AS VARCHAR) || '>' AS record_id,
        |  '<urn:graft:' || CAST(doc_id AS VARCHAR) || '>' AS concurrent_to,
        |  CAST(strlen('GET ' || pth || ' HTTP/1.1' || chr(13) || chr(10) ||
        |    'Host: example.com' || chr(13) || chr(10) ||
        |    'User-Agent: graft-crawler/1.0' || chr(13) || chr(10) ||
        |    'Accept: text/html' || chr(13) || chr(10) || chr(13) || chr(10))
        |    AS BIGINT) AS content_length,
        |  'GET' AS method, pth AS req_path, 'HTTP/1.1' AS http_version,
        |  'example.com' AS host, 'graft-crawler/1.0' AS user_agent,
        |  CAST(100 + doc_id % 900 AS BIGINT) AS fetch_time_ms
        |FROM d""".stripMargin) { (spark, dir) =>
      import graft.io.WarcIo
      val docs = Tables.load(spark, dir, "documents").select(
        col("doc_id").cast("long").as("id"),
        concat(lit("https://example.com/doc/"), col("doc_id")).as("uri"),
        col("text").as("body"))
      val tmp = GraftBridge.tempDir("graft_wat_req")
      WarcIo.writeShards(docs.repartition(4, col("id")), tmp,
        withCapture = true).collect()
      val meta = WarcIo.readMetadata(spark, tmp)
        .filter(col("field") === "fetchTimeMs")
        .select(col("concurrent_to"), col("value").cast("long").as("fetch_time_ms"))
      WarcIo.readRequests(spark, tmp).join(meta, Seq("concurrent_to"))
        .select(col("target_uri"), col("record_id"), col("concurrent_to"),
          col("content_length"), col("method"), col("req_path"),
          col("http_version"), col("host"), col("user_agent"),
          col("fetch_time_ms"))
    },

    // Q12: the CRAWL funnel — the composition gate for the whole web-
    // input family (the q11 discipline applied to ingest): HTML pages →
    // REAL WARC bytes on disk → Content-Length parse + HTTP split →
    // WET extraction → mojibake repair → brace page-filter → robots
    // crawl-permission gate (REAL RFC 9309 parsing of planted robots
    // text) → per-source quota (the t13 md5-rank cap, Q=8 so it binds at every SF). Every stage
    // reports surviving docs AND chars, so the byte-level handoffs
    // between six operators all sit in one hash. Classes: doc_id%2
    // plants mojibake (repaired, chars shift — not dropped), %4 plants
    // the '{' page (dropped at brace), %3==1 gets a /private path
    // (dropped at robots). The ORACLE never parses anything — it states
    // each survivor set and each clean text in closed form, with the
    // t13 md5 rank replayed live for the quota stage.
    QueryDef.sql(
      "q12_crawl_funnel",
      """WITH d AS (SELECT doc_id, source,
        |  'Doc ' || CAST(doc_id AS VARCHAR) || ' caf' ||
        |    CASE WHEN doc_id % 2 = 0 THEN chr(233) ELSE 'e' END || ' ' ||
        |    trim(regexp_replace(text, '\s+', ' ', 'g')) ||
        |    CASE WHEN doc_id % 4 = 0 THEN ' code { x }' ELSE '' END AS clean
        |  FROM documents),
        |c4 AS (SELECT * FROM d WHERE doc_id % 4 <> 0),
        |rb AS (SELECT * FROM c4 WHERE doc_id % 3 <> 1),
        |qk AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY source
        |         ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn FROM rb)
        |       WHERE rn <= 8)
        |SELECT CAST(1 AS INT) AS stage_idx, 'extracted' AS stage,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(length(clean)) AS BIGINT) AS n_chars FROM d
        |UNION ALL SELECT 2, 'brace_filtered', CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(length(clean)) AS BIGINT) FROM c4
        |UNION ALL SELECT 3, 'robots_allowed', CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(length(clean)) AS BIGINT) FROM rb
        |UNION ALL SELECT 4, 'quota_kept', CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(length(clean)) AS BIGINT) FROM qk""".stripMargin) { (spark, dir) =>
      import graft.functions.{HtmlText, RobotsTxt}
      import graft.functions.expr.FixMojibake
      import graft.io.WarcIo
      import org.apache.spark.sql.expressions.Window
      val src = Tables.load(spark, dir, "documents")
      val html = concat(
        lit("<html><head><title>Doc "), col("doc_id"),
        lit("</title></head><body><p>"),
        when(pmod(col("doc_id"), lit(2L)) === 0, lit("cafÃ© ")).otherwise(lit("cafe ")),
        col("text"), lit("</p>"),
        when(pmod(col("doc_id"), lit(4L)) === 0, lit("<p>code { x }</p>"))
          .otherwise(lit("")),
        lit("</body></html>"))
      val uri = concat(lit("https://"), col("source"), lit(".example.com"),
        when(pmod(col("doc_id"), lit(3L)) === 1,
          concat(lit("/private/p"), col("doc_id")))
          .otherwise(concat(lit("/pub/p"), col("doc_id"))))
      val tmp = GraftBridge.tempDir("graft_crawl_funnel")
      WarcIo.writeShards(
        src.select(col("doc_id").cast("long").as("id"), uri.as("uri"), html.as("body"))
          .repartition(4, col("id")), tmp).collect()
      val clean = WarcIo.readResponses(spark, tmp).select(
        regexp_extract(col("target_uri"), "^https://([a-z0-9_]+)\\.example", 1).as("source"),
        regexp_extract(col("target_uri"), "\\.example\\.com(/.*)$", 1).as("path"),
        regexp_extract(col("target_uri"), "p(\\d+)$", 1).cast("long").as("doc_id"),
        FixMojibake(HtmlText.extract(col("body"))).as("clean"))
      val braceKept = clean.filter(!col("clean").contains("{"))
      val domains = braceKept.select(col("source").as("domain")).distinct()
        .select(col("domain"),
          lit("User-agent: *\nDisallow: /private").as("txt"))
      val verdicts = RobotsTxt.verdicts(
        braceKept.select(col("doc_id").as("id"), col("source").as("domain"), col("path")),
        "id", "domain", "path", RobotsTxt.starGroupRules(domains, "domain", "txt"))
      val robotsKept = braceKept.join(
        verdicts.filter(col("allowed")).select(col("id").as("doc_id")), Seq("doc_id"), "left_semi")
      val w = Window.partitionBy(col("source"))
        .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
      val quotaKept = robotsKept.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 8)
      def stat(idx: Int, name: String, df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)).as("n_docs"),
            sum(length(col("clean"))).cast("long").as("n_chars"))
          .select(lit(idx).cast("int").as("stage_idx"), lit(name).as("stage"),
            col("n_docs"), col("n_chars"))
      stat(1, "extracted", clean)
        .unionAll(stat(2, "brace_filtered", braceKept))
        .unionAll(stat(3, "robots_allowed", robotsKept))
        .unionAll(stat(4, "quota_kept", quotaKept))
    },

    // S15: Arrow IPC shard round-trip (io/ArrowExport) — the zero-copy
    // interchange export beside the JSONL and TAR sinks. The gate is the
    // s10/s11 bound-audit shape crossing into the Arrow format: write the
    // documents manifest as 4 IPC stream shards, read every record batch
    // back through the genuine ArrowStreamReader, and hash the THEOREMS
    // beside exact values — shard count, total rows, every-shard-nonempty,
    // and bag-equality of the round-trip (exceptAll both ways == 0). A
    // writer that drops a null bit, truncates a batch, or mis-encodes
    // UTF-8 fails the driver gate on a value.
    QueryDef.sql(
      "s15_arrow_shards",
      """SELECT CAST(4 AS INT) AS n_shards,
        |  CAST(COUNT(*) AS BIGINT) AS total_rows,
        |  TRUE AS roundtrip_identical, TRUE AS shards_nonempty
        |FROM documents""".stripMargin) { (spark, dir) =>
      import graft.io.ArrowExport
      import org.apache.spark.sql.types._
      val sel = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("text"), col("source"))
      val tmp = GraftBridge.tempDir("graft_arrow")
      val manifest = ArrowExport
        .writeShards(sel.repartition(4, col("doc_id")), tmp)
        .collect() // 4-row manifest — bounded, and materializes the write
      val schema = StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType), StructField("source", StringType)))
      val back = ArrowExport.readShards(spark, tmp, schema)
      val diff = back.exceptAll(sel).unionAll(sel.exceptAll(back)).count()
      spark.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(
          manifest.length, manifest.map(_.getLong(1)).sum,
          diff == 0L, manifest.forall(_.getLong(1) > 0L))),
        StructType(Seq(StructField("n_shards", IntegerType, nullable = false),
          StructField("total_rows", LongType, nullable = false),
          StructField("roundtrip_identical", BooleanType, nullable = false),
          StructField("shards_nonempty", BooleanType, nullable = false))))
    })
}
