package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.OracleParity._

/** Source/sink format coverage (SURVEY.md §2.3 "file sources/sinks"):
  * each entry writes a table out in a non-parquet format, reads it back,
  * and aggregates — the oracle runs the same aggregate on the ORIGINAL
  * parquet table, so a hash match proves the roundtrip is lossless.
  *
  * The reference's only format is JSONL over S3
  * (`/root/reference/app/app.py:29-31,76-80`); here JSONL, CSV, ORC and
  * partitioned parquet all ride the same `DataFrameReader`/`Writer`
  * surface, which is what makes them `s3a://`-ready unchanged.
  */
object SourceQueries extends graft.QueryModule {
  private def tmp(name: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_roundtrip/$name"

  /** Bucketed warehouse, written ONCE per (session, dir) — the same
    * memoized-substrate discipline as `DedupQueries.cappedShingleRows`.
    * Bucketing is a one-time LAYOUT cost amortized over every later
    * join; timing the two `saveAsTable`s inside `src_bucketed_join`
    * conflated write-side filesystem noise with the zero-exchange read
    * the entry exists to demonstrate (the r11 "+51% regression" was
    * exactly that attribution drift, not a plan change). Bench warm-up
    * pays this once; the explicit `src_bucketed_write` entry carries
    * the layout-write cost under its own name. */
  private val bucketedWh =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), (String, String)]()
  /** Returns the (lineitem, orders) catalog table names for `d`'s
    * bucketed layout. Both the warehouse path and the table names are
    * keyed by a dir-derived suffix: a single session touching two
    * sfDirs (ScaleProbe-style loops) gets two independent layouts —
    * with one global path/table pair, building dir B used to overwrite
    * dir A's tables while (session, A)'s memo entry stayed populated,
    * silently serving B's rows to A's join. */
  def ensureBucketedWarehouse(s: SparkSession, d: String): (String, String) = {
    bucketedWh.computeIfAbsent((s, d), { _ =>
      // SHA-256 prefix (collision-resistant, stable across JVMs): a
      // 32-bit String.hashCode collision between two sfDirs would have
      // silently shared li_bg_/ord_bg_ tables — the exact cross-dir
      // aliasing this keying exists to prevent
      val sfx = java.security.MessageDigest.getInstance("SHA-256")
        .digest(d.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .take(8).map(b => f"$b%02x").mkString
      val wh = tmp(s"bucketed_wh_$sfx")
      val li = s"li_bg_$sfx"
      val ord = s"ord_bg_$sfx"
      lineitem(s, d).write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$wh/$li").saveAsTable(li)
      orders(s, d).write.mode("overwrite")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$wh/$ord").saveAsTable(ord)
      (li, ord)
    })
  }

  val queries: Map[String, Q] = Map(
    // Hidden FILE-METADATA columns (_metadata.file_name / row lineage)
    // — the provenance surface an audit needs when a corpus spans
    // thousands of landing files: per-file row counts and id ranges
    // straight off the scan, no extra pass. The oracle pins the
    // basename and the content stats, so a scan that silently reads a
    // different file (or drops rows) fails the hash.
    "src_metadata_columns" -> ((s, d) => {
      import s.implicits._
      s.read.parquet(s"$d/documents.parquet")
        .select($"doc_id", col("_metadata.file_name").as("file_name"))
        .groupBy($"file_name")
        .agg(count(lit(1)).as("n_rows"),
          min($"doc_id").as("min_doc"), max($"doc_id").as("max_doc"))
        .orderBy($"file_name")
    }),

    // CSV sink → CSV source (header + explicit schema back; quoting exercised
    // by the free-text name column).
    "src_csv_roundtrip" -> ((s, d) => {
      import s.implicits._
      val src = nation(s, d)
      val path = tmp("nation_csv")
      src.write.mode("overwrite").option("header", "true").csv(path)
      s.read.schema(src.schema).option("header", "true").csv(path)
        .groupBy($"n_regionkey")
        .agg(count(lit(1)).as("n_nations"),
          sum(length($"n_name")).cast("long").as("name_chars"))
        .orderBy($"n_regionkey")
    }),

    // ORC sink → ORC source (the other columnar format Spark ships).
    "src_orc_roundtrip" -> ((s, d) => {
      import s.implicits._
      val path = tmp("customer_orc")
      customer(s, d).write.mode("overwrite").orc(path)
      s.read.orc(path)
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_cust"), dsum($"c_acctbal").as("sum_bal"))
        .orderBy($"c_mktsegment")
    }),

    // JSONL sink → JSONL source — the reference's wire format (O1/O8)
    // over a real table; doubles survive via shortest-roundtrip
    // serialization, schema supplied on read as in the IoT path.
    "src_jsonl_roundtrip" -> ((s, d) => {
      import s.implicits._
      val src = supplier(s, d)
      val path = tmp("supplier_jsonl")
      src.write.mode("overwrite").json(path)
      s.read.schema(src.schema).json(path)
        .groupBy($"s_nationkey")
        .agg(count(lit(1)).as("n_supp"), dsum($"s_acctbal").as("sum_bal"))
        .orderBy($"s_nationkey")
    }),

    // GZIP-compressed JSONL sink → source — the compressed landing
    // format S3 log pipelines actually ship (the reference's wire
    // format plus the codec every crawler applies). Spark's reader
    // decompresses .json.gz transparently by extension; the aggregate
    // over the read-back pins losslessness through the codec. Scale
    // note: gzip files are NOT splittable — one file = one task — so
    // the landing layout must keep objects at ~100 MB; the re-read
    // here is the same code path.
    "src_gzip_jsonl_roundtrip" -> ((s, d) => {
      import s.implicits._
      val src = part(s, d)
      val path = tmp("part_jsonl_gz")
      src.write.mode("overwrite").option("compression", "gzip").json(path)
      s.read.schema(src.schema).json(path)
        .groupBy($"p_brand")
        .agg(count(lit(1)).as("n_parts"), dsum($"p_retailprice").as("sum_price"))
        .orderBy($"p_brand")
    }),

    // Bucketed tables — the PRE-shuffle: both fact tables written
    // bucketed+sorted on the join key, so every future join between
    // them plans with zero exchanges (BucketingSpec pins the no-
    // Exchange plan; this gate entry pins the VALUES through the
    // bucketed layout). At 100 TB this converts the recurring
    // lineitem⋈orders shuffle into a one-time layout cost.
    // The one-time LAYOUT cost, timed under its own name: a fresh
    // bucketed+sorted write of the orders fact (its own table, never
    // the memoized warehouse, so each bench run times a real write),
    // then an aggregate over the read-back proves the layout is
    // lossless. At 100 TB this is the pass you run once per landing
    // batch to convert every later lineitem⋈orders shuffle into a
    // zero-exchange merge.
    "src_bucketed_write" -> ((s, d) => {
      import s.implicits._
      val wh = tmp("bucketed_write_wh")
      orders(s, d).write.mode("overwrite")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$wh/ord_bw").saveAsTable("ord_bw")
      s.table("ord_bw")
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("sum_price"))
        .orderBy($"o_orderstatus")
    }),

    "src_bucketed_join" -> ((s, d) => {
      import s.implicits._
      // layout is memoized per (session, dir): the timed body is the
      // zero-exchange bucketed join READ alone (BucketingSpec pins the
      // no-Exchange plan; src_bucketed_write carries the layout cost)
      val (liTbl, ordTbl) = ensureBucketedWarehouse(s, d)
      s.table(liTbl).join(s.table(ordTbl), $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_lines"), dsum($"l_extendedprice").as("sum_price"))
        .orderBy($"o_orderpriority")
    }),

    // XML sink → XML source (native in Spark 4 — no external package).
    // rowTag framing + explicit schema back; keys and name lengths
    // survive the text encoding exactly.
    "src_xml_roundtrip" -> ((s, d) => {
      import s.implicits._
      val src = nation(s, d)
      val path = tmp("nation_xml")
      src.write.mode("overwrite").option("rootTag", "nations")
        .option("rowTag", "nation").format("xml").save(path)
      s.read.schema(src.schema).option("rowTag", "nation").format("xml").load(path)
        .groupBy($"n_regionkey")
        .agg(count(lit(1)).as("n_nations"),
          sum(length($"n_name")).cast("long").as("name_chars"))
        .orderBy($"n_regionkey")
    }),

    // binaryFile source — the ingestion path for opaque multimodal
    // payloads (images/audio ride the same reader at scale): land the
    // corpus as one text object, then read it back as raw bytes and
    // prove the byte count matches the table exactly (one trailing
    // newline per document line).
    // AVRO ROUNDTRIP — the Avro-connector gap closed with the jars
    // that ARE shipped (r18): `spark-avro_2.13` (the DataSource) can't
    // resolve offline, but Avro CORE + avro-mapred ride in
    // /opt/spark/jars, so the format runs through the Hadoop
    // input/output formats instead — the same integration surface a
    // pre-datasource Spark deployment used. Write: mapPartitions
    // builds GenericRecords (schema re-parsed per partition — Schema
    // isn't serializable) → AvroKeyOutputFormat container files.
    // Read: AvroKeyInputFormat → fields extracted IN the reading
    // partition (Hadoop RDDs reuse key instances; nothing Avro-typed
    // survives past the map). The aggregate hash-matches the ORIGINAL
    // parquet table — the roundtrip-lossless proof, same contract as
    // every other format entry. Records are row-local, so the path is
    // embarrassingly parallel at any scale.
    "src_avro_roundtrip" -> ((s, d) => {
      import s.implicits._
      import org.apache.avro.generic.{GenericData, GenericRecord}
      import org.apache.avro.mapred.AvroKey
      import org.apache.avro.mapreduce.{AvroJob, AvroKeyInputFormat, AvroKeyOutputFormat}
      import org.apache.hadoop.io.NullWritable
      val schemaJson =
        """{"type":"record","name":"Cust","fields":[
          |{"name":"c_custkey","type":"long"},
          |{"name":"c_nationkey","type":"int"},
          |{"name":"c_acctbal","type":"double"},
          |{"name":"c_mktsegment","type":"string"}]}""".stripMargin
      val path = graft.TmpRoots.register(
        tmp(s"avro_${s.sparkContext.applicationId}"), "avro_")
      val basePath = new org.apache.hadoop.fs.Path(path)
      basePath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(basePath, true)
      val job = org.apache.hadoop.mapreduce.Job.getInstance(
        s.sparkContext.hadoopConfiguration)
      AvroJob.setOutputKeySchema(job,
        new org.apache.avro.Schema.Parser().parse(schemaJson))
      customer(s, d)
        .select($"c_custkey", $"c_nationkey", $"c_acctbal", $"c_mktsegment")
        .rdd.mapPartitions { rows =>
          val schema = new org.apache.avro.Schema.Parser().parse(schemaJson)
          rows.map { r =>
            val rec: GenericRecord = new GenericData.Record(schema)
            rec.put("c_custkey", r.getLong(0))
            rec.put("c_nationkey", r.getInt(1))
            rec.put("c_acctbal", r.getDouble(2))
            rec.put("c_mktsegment", r.getString(3))
            (new AvroKey[GenericRecord](rec), NullWritable.get())
          }
        }
        .saveAsNewAPIHadoopFile(path, classOf[AvroKey[GenericRecord]],
          classOf[NullWritable], classOf[AvroKeyOutputFormat[GenericRecord]],
          job.getConfiguration)
      s.sparkContext.newAPIHadoopFile(path,
          classOf[AvroKeyInputFormat[GenericRecord]],
          classOf[AvroKey[GenericRecord]], classOf[NullWritable],
          s.sparkContext.hadoopConfiguration)
        .mapPartitions(_.map { case (k, _) =>
          val rec = k.datum()
          (rec.get("c_custkey").asInstanceOf[Long],
            rec.get("c_nationkey").asInstanceOf[Int],
            rec.get("c_acctbal").asInstanceOf[Double],
            rec.get("c_mktsegment").toString)
        })
        .toDF("c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment")
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_rows"), dsum($"c_acctbal").as("acct_sum"),
          sum($"c_custkey").as("key_sum"),
          countDistinct($"c_nationkey").as("n_nations"))
        .orderBy($"c_mktsegment")
    }),

    "src_binaryfile" -> ((s, d) => {
      import s.implicits._
      val path = tmp("documents_bin")
      documents(s, d).select($"text").repartition(1)
        .write.mode("overwrite").text(path)
      s.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt").load(path)
        .agg(count(lit(1)).as("n_files"),
          sum(length($"content")).cast("long").as("total_bytes"))
    }),

    // Plain-text sink → text source (one line per document; the corpus
    // format LLM-data pipelines actually exchange). The aggregate's
    // min/max md5 fingerprints pin content (not just counts) across
    // the roundtrip.
    "src_text_roundtrip" -> ((s, d) => {
      import s.implicits._
      val path = tmp("documents_text")
      documents(s, d).select($"text").write.mode("overwrite").text(path)
      s.read.text(path)
        .agg(count(lit(1)).as("n_lines"),
          sum(length($"value")).cast("long").as("n_chars"),
          min(md5($"value".cast("binary"))).as("min_md5"),
          max(md5($"value".cast("binary"))).as("max_md5"))
    }),

    // Small-files compaction — the recurring maintenance job of any
    // file-based lakehouse: a fragmented landing layout (64 shards
    // here; millions of per-event files at the 100 TB reference-style
    // ingest) is rewritten range-clustered on the primary key into few
    // right-sized files, so later scans open orders of magnitude fewer
    // footers and range predicates prune whole files. The oracle
    // aggregates the original table — a hash match proves compaction
    // lost nothing. (ScaleOpsSpec asserts the file-count collapse.)
    "src_compact_small_files" -> ((s, d) => {
      import s.implicits._
      val small = tmp("orders_small")
      val compacted = tmp("orders_compacted")
      orders(s, d).repartition(64).write.mode("overwrite").parquet(small)
      s.read.parquet(small)
        .repartitionByRange(4, $"o_orderkey")
        .write.mode("overwrite").parquet(compacted)
      s.read.parquet(compacted)
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("sum_price"))
        .orderBy($"o_orderpriority")
    }),

    // Z-order clustering rewrite — the multi-dimensional cousin of the
    // compaction job above: lineitem is rewritten sorted by the
    // interleaved-bit z-value of (l_partkey, l_suppkey), so a box
    // predicate on BOTH keys prunes files (each file's min/max footer
    // stats cover a small z-curve tile, not the whole key plane —
    // ZOrderSpec measures the bounding-box collapse). Bucketing and
    // interleaving are pure integer arithmetic (DIV + shift/mask), so
    // the oracle recomputes the exact z-cell aggregate from the
    // original table: a hash match proves the rewrite both preserved
    // every row and computed the same curve. One range shuffle on z —
    // identical cost shape to any clustered rewrite at 100 TB.
    "src_zorder_cluster" -> ((s, d) => {
      import s.implicits._
      val path = tmp("lineitem_zorder")
      val bounds = lineitem(s, d)
        .agg((max($"l_partkey") + 1).as("pmax"), (max($"l_suppkey") + 1).as("smax"))
      val withZ = lineitem(s, d)
        .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey", $"l_quantity")
        .crossJoin(broadcast(bounds)) // single-row side
        .withColumn("px", expr("l_partkey * 256 DIV pmax")) // 8 bucket bits
        .withColumn("py", expr("l_suppkey * 256 DIV smax"))
        .withColumn("z", (0 until 8).map(b =>
            shiftleft(shiftright($"px", b).bitwiseAND(1), 2 * b + 1) +
              shiftleft(shiftright($"py", b).bitwiseAND(1), 2 * b))
          .reduce(_ + _))
        .drop("pmax", "smax")
      withZ.repartitionByRange(16, $"z").sortWithinPartitions($"z")
        .write.mode("overwrite").parquet(path)
      s.read.parquet(path)
        .groupBy(shiftright($"z", 12).as("zcell")) // 16 coarse curve tiles
        .agg(count(lit(1)).as("n"), dsum($"l_quantity").as("sum_qty"))
        .orderBy($"zcell")
    }),

    // Hive-style partitioned parquet sink, read back through a
    // partition-pruning filter — at 100 TB the filter prunes
    // directories before any file is opened.
    "src_parquet_partitioned" -> ((s, d) => {
      import s.implicits._
      val path = tmp("orders_by_status")
      orders(s, d).write.mode("overwrite")
        .partitionBy("o_orderstatus").parquet(path)
      s.read.parquet(path)
        .filter($"o_orderstatus" === "F")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("sum_price"))
        .orderBy($"o_orderpriority")
    }),

    // Parquet SCHEMA EVOLUTION read: two landing generations of the
    // same table — v1 without, v2 with an added column — read as one
    // dataset via mergeSchema; v1 rows surface NULL for the added
    // column. This is the contract every long-lived 100 TB table needs
    // (columns get added mid-history; old files must stay readable
    // without rewrite). The aggregate pins both the union row count
    // and the null-fill semantics.
    "src_schema_evolution" -> ((s, d) => {
      import s.implicits._
      val path = tmp("orders_evolved")
      val base = orders(s, d)
      // generation 1: early orders, before the priority column existed
      base.filter($"o_orderkey" % 2 === 0)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
        .write.mode("overwrite").parquet(s"$path/v1")
      // generation 2: later landings carry the new column
      base.filter($"o_orderkey" % 2 === 1)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderpriority")
        .write.mode("overwrite").parquet(s"$path/v2")
      s.read.option("mergeSchema", "true").parquet(s"$path/v1", s"$path/v2")
        .groupBy(coalesce($"o_orderpriority", lit("(pre-evolution)")).as("priority"))
        .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("sum_price"))
        .orderBy($"priority")
    }),

    // PERMISSIVE malformed-record CSV read — the reference's corrupt-
    // record side-output contract (O3/O11) exercised on a second
    // format: rows with a non-numeric key column land in the corrupt
    // column instead of killing the scan, and the good/bad split is
    // aggregated in one pass (no second scan for the DLQ). Corruption
    // is injected deterministically (n_nationkey ≡ 3 mod 5), so the
    // oracle recomputes the exact split from the clean table.
    "src_csv_malformed" -> ((s, d) => {
      import s.implicits._
      val path = tmp("nation_malformed_csv")
      nation(s, d)
        .select(when($"n_nationkey" % 5 === 3,
            concat(lit("corrupt-line-"), $"n_nationkey".cast("string")))
          .otherwise(concat($"n_nationkey".cast("string"),
            lit(","), $"n_name", lit(","), $"n_regionkey".cast("string"))).as("value"))
        .write.mode("overwrite").text(path)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "n_nationkey INT, n_name STRING, n_regionkey INT, _corrupt STRING")
      // CSV column pruning skips token-count validation for columns the
      // query never touches — an aggregate over (_corrupt, n_regionkey)
      // would silently see zero corrupt rows. Disable pruning on an
      // isolated child session (the streaming-gate pattern) so the DLQ
      // split is computed against the FULL row contract.
      val ss = s.newSession()
      ss.conf.set("spark.sql.csv.parser.columnPruning.enabled", "false")
      ss.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
        .agg(
          count(when($"_corrupt".isNull, 1)).as("n_good"),
          count($"_corrupt").as("n_corrupt"),
          sum(when($"_corrupt".isNull, $"n_regionkey")).cast("long").as("sum_region_good"))
    }),

    // Catalog + statistics-driven planning: the testdata registered as
    // EXTERNAL catalog tables, ANALYZE ... FOR ALL COLUMNS run, and the
    // classic segment-revenue join planned UNDER CBO from catalog
    // rowCount/NDV stats instead of file sizes (PlanSpec pins that the
    // stats actually flip a join-strategy decision; this gate pins that
    // the catalog read path + CBO planning produce the same answer as
    // the path-based read). See CatalogTables for why this is the
    // 100 TB planning path.
    "src_catalog_stats" -> ((s, d) => {
      val ss = CatalogTables.cboSession(s)
      val db = CatalogTables.ensure(ss, d)
      ss.sql(
        s"""SELECT n.n_name, CAST(COUNT(*) AS BIGINT) AS n_orders,
           |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
           |FROM $db.orders o
           |JOIN $db.customer c ON o.o_custkey = c.c_custkey
           |JOIN $db.nation n ON c.c_nationkey = n.n_nationkey
           |WHERE c.c_mktsegment = 'BUILDING'
           |GROUP BY n.n_name
           |ORDER BY n.n_name""".stripMargin)
    })
  )

  val oracles: Map[String, String] = Map(
    "src_metadata_columns" ->
      """SELECT 'documents.parquet' AS file_name,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM documents""".stripMargin,

    "src_csv_roundtrip" ->
      """SELECT n_regionkey, COUNT(*) AS n_nations,
        | CAST(SUM(length(n_name)) AS BIGINT) AS name_chars
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,

    "src_orc_roundtrip" ->
      """SELECT c_mktsegment, COUNT(*) AS n_cust,
        | CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "src_jsonl_roundtrip" ->
      """SELECT s_nationkey, COUNT(*) AS n_supp,
        | CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,

    "src_gzip_jsonl_roundtrip" ->
      """SELECT p_brand, COUNT(*) AS n_parts,
        | CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "src_bucketed_write" ->
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "src_bucketed_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n_lines,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "src_xml_roundtrip" ->
      """SELECT n_regionkey, COUNT(*) AS n_nations,
        | CAST(SUM(length(n_name)) AS BIGINT) AS name_chars
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,

    // Roundtrip-lossless proof: the oracle aggregates the ORIGINAL
    // parquet — a hash match proves the Avro write+read lost nothing.
    "src_avro_roundtrip" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS acct_sum,
        |  CAST(SUM(c_custkey) AS BIGINT) AS key_sum,
        |  CAST(count(DISTINCT c_nationkey) AS BIGINT) AS n_nations
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "src_binaryfile" ->
      """SELECT CAST(1 AS BIGINT) AS n_files,
        | CAST(SUM(strlen(text) + 1) AS BIGINT) AS total_bytes
        |FROM documents""".stripMargin,

    "src_text_roundtrip" ->
      """SELECT COUNT(*) AS n_lines,
        | CAST(SUM(length(text)) AS BIGINT) AS n_chars,
        | MIN(md5(text)) AS min_md5, MAX(md5(text)) AS max_md5
        |FROM documents""".stripMargin,

    "src_compact_small_files" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "src_parquet_partitioned" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "src_schema_evolution" ->
      """SELECT CASE WHEN o_orderkey % 2 = 0 THEN '(pre-evolution)'
        |            ELSE o_orderpriority END AS priority,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY 1 ORDER BY priority""".stripMargin,

    "src_csv_malformed" ->
      """SELECT
        |  COUNT(CASE WHEN n_nationkey % 5 <> 3 THEN 1 END) AS n_good,
        |  COUNT(CASE WHEN n_nationkey % 5 = 3 THEN 1 END) AS n_corrupt,
        |  CAST(SUM(CASE WHEN n_nationkey % 5 <> 3 THEN n_regionkey END) AS BIGINT)
        |    AS sum_region_good
        |FROM nation""".stripMargin,

    "src_catalog_stats" ->
      """SELECT n.n_name, CAST(COUNT(*) AS BIGINT) AS n_orders,
        | CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |GROUP BY n.n_name
        |ORDER BY n.n_name""".stripMargin,

    // Same integer bucket + bit-interleave as the Spark side, computed
    // straight off the original table — proves the clustered rewrite
    // lost nothing and agrees on the curve.
    "src_zorder_cluster" ->
      """WITH b AS (SELECT MAX(l_partkey) + 1 AS pmax, MAX(l_suppkey) + 1 AS smax
        |           FROM lineitem),
        |z AS (
        |  SELECT l_quantity,
        |    ((((l_partkey * 256 // pmax) >> 0) & 1) << 1)  + ((((l_suppkey * 256 // smax) >> 0) & 1) << 0) +
        |    ((((l_partkey * 256 // pmax) >> 1) & 1) << 3)  + ((((l_suppkey * 256 // smax) >> 1) & 1) << 2) +
        |    ((((l_partkey * 256 // pmax) >> 2) & 1) << 5)  + ((((l_suppkey * 256 // smax) >> 2) & 1) << 4) +
        |    ((((l_partkey * 256 // pmax) >> 3) & 1) << 7)  + ((((l_suppkey * 256 // smax) >> 3) & 1) << 6) +
        |    ((((l_partkey * 256 // pmax) >> 4) & 1) << 9)  + ((((l_suppkey * 256 // smax) >> 4) & 1) << 8) +
        |    ((((l_partkey * 256 // pmax) >> 5) & 1) << 11) + ((((l_suppkey * 256 // smax) >> 5) & 1) << 10) +
        |    ((((l_partkey * 256 // pmax) >> 6) & 1) << 13) + ((((l_suppkey * 256 // smax) >> 6) & 1) << 12) +
        |    ((((l_partkey * 256 // pmax) >> 7) & 1) << 15) + ((((l_suppkey * 256 // smax) >> 7) & 1) << 14)
        |    AS z
        |  FROM lineitem CROSS JOIN b)
        |SELECT z >> 12 AS zcell, COUNT(*) AS n,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM z GROUP BY zcell ORDER BY zcell""".stripMargin
  )
}
