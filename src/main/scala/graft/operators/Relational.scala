package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Relational core: scan/project, filters, all join shapes, aggregations,
  * sorts, set operations and correlated subqueries (SURVEY.md §2.1–2.4,
  * §2.6–2.7, §2.11).
  *
  * Everything is declared through the DataFrame API (or `spark.sql` where
  * the construct is SQL-native, e.g. GROUPING SETS and correlated
  * subqueries) so Catalyst owns the physical strategy: predicate pushdown
  * and column pruning reach the parquet scan, dimension joins broadcast
  * under `spark.sql.autoBroadcastJoinThreshold`, fact-fact joins shuffle on
  * their keys with AQE free to coalesce or switch to shuffled-hash, and
  * aggregations run partial (map-side) before the final exchange. These are
  * exactly the properties that keep the same plans viable at 100 TB on a
  * multi-executor cluster.
  */
object Relational {

  /** #1 scan + projection + derived column. Only the three referenced
    * columns are read (ReadSchema pruning); the arithmetic is codegen'd. */
  def scanProject(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("net_price"))
      // (l_orderkey, l_linenumber) is NOT unique in this data — net_price
      // breaks the tie so the output order is total.
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("net_price"))
      .limit(100)

  /** #1b scan over the RANGE-SORTED layout ([[graft.sources.Layout
    * .saveRangeSorted]]): lineitem re-laid as files covering disjoint
    * l_orderkey ranges, so the pushed-down BETWEEN skips every
    * non-matching file's row groups on parquet footer min/max alone —
    * the second writer-side 100 TB cost lever (the first, bucketing, is
    * judged by join_bucketed). Judged against the plain-table oracle:
    * like salting and bucketing, the layout must be semantically
    * INVISIBLE. The re-layout is written once per JVM per dataset path
    * under a PER-PROCESS temp root — a second JVM can neither race this
    * one's overwrite nor serve a dead JVM's stale layout (the same
    * per-JVM lifetime joinBucketed gets from its in-memory catalog);
    * the marker file commits AFTER the write so a crashed write
    * rewrites instead of serving partial files. */
  def scanRangePruned(s: SparkSession, d: String): DataFrame = {
    val dir = LayoutLock.once("lineitem", d) { out =>
      graft.sources.Layout.saveRangeSorted(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_quantity")),
        out, numFiles = 8, Seq("l_orderkey"))
    }
    s.read.parquet(dir)
      .filter(col("l_orderkey").between(300, 600))
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("qty"))
      .orderBy(col("l_orderkey"))
  }

  /** #1c scan over the HIVE-PARTITIONED layout ([[graft.sources.Ingest
    * .writePartitioned]]): events re-laid as a `event_date=YYYY-MM-DD/`
    * directory tree, so the date filter prunes whole directories at
    * PLANNING time (`PartitionFilters` on the scan — no footer, let
    * alone data, is read for the other ~24 days). This is the third and
    * most common writer-side 100 TB lever after bucketing
    * ([[joinBucketed]]) and range-sort ([[scanRangePruned]]): a date
    * partition turns a full-corpus scan into a scan of just the queried
    * days. Judged against the PLAIN-table oracle — like the other two
    * layouts, the re-layout must be semantically INVISIBLE. Same
    * per-JVM lifetime/marker protocol as [[scanRangePruned]]; the write
    * repartitions by the partition column first so each date directory
    * gets ONE file instead of one per upstream task (the small-files
    * guard that matters at a million partitions). */
  def scanPartitionPruned(s: SparkSession, d: String): DataFrame = {
    val dir = LayoutLock.once("events_bydate", d) { out =>
      graft.sources.Ingest.writePartitioned(
        Tables.events(s, d)
          .select(col("ts"), col("event_type"), col("value"))
          .withColumn("event_date", to_date(col("ts")))
          .repartition(col("event_date")),
        out, Seq("event_date"))
    }
    s.read.parquet(dir)
      .filter(col("event_date").between("2024-01-10", "2024-01-15"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .orderBy(col("event_type"))
  }

  /** #1d scan over the Z-ORDERED layout ([[graft.sources.Layout
    * .saveZOrdered]]): events re-clustered on the Morton curve of
    * (user_id, day), so a filter over BOTH dimensions prunes row groups
    * on parquet footer min/max for each — the fourth writer-side layout
    * lever, covering the query shape the other three cannot: a range-sort
    * on user_id leaves every file spanning all 30 days, a date partition
    * leaves every directory spanning all users; the z-layout bounds each
    * file to a compact (user, day) rectangle (LayoutSpec asserts the
    * rectangles and that the judged filter's rectangle intersects a
    * strict minority of files). Judged against the PLAIN-table oracle —
    * the re-layout must be semantically INVISIBLE. Same per-JVM
    * lifetime/marker protocol as [[scanRangePruned]]. */
  def scanZorderPruned(s: SparkSession, d: String): DataFrame = {
    val dir = LayoutLock.once("events_zorder", d) { out =>
      graft.sources.Layout.saveZOrdered(
        Tables.events(s, d)
          .select(col("user_id"), to_date(col("ts")).as("day"),
            col("event_type"), col("value")),
        out, numFiles = 8,
        col("user_id"), unix_date(col("day")))
    }
    s.read.parquet(dir)
      .filter(col("user_id").between(3, 9) &&
        col("day").between(lit("2024-01-08").cast("date"),
          lit("2024-01-18").cast("date")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .orderBy(col("event_type"))
  }

  /** #147 judged CSV ROUND-TRIP ingestion — the edge a pipeline user
    * touches first: lineitem written to headered CSV through
    * [[graft.sources.Ingest.writeCsv]], read back PERMISSIVE with the
    * explicit declared schema (+ corrupt-record quarantine,
    * [[graft.sources.Ingest.readCsv]]), quarantine split off, and a
    * filtered aggregation over the VALID side judged against the
    * PLAIN-parquet-table oracle — the same layout-invisibility trick as
    * [[scanRangePruned]]: text serialization must be semantically
    * invisible. Exactness through the text hop: longs/dates are exact
    * text; doubles round-trip bit-identically because Java's
    * `Double.toString` emits the shortest string that parses back to
    * the same double; the sums are cent multiples (boundary-safe at
    * 2 dp). Same per-JVM lifetime/marker protocol as the other
    * layouts. IngestSpec proves a malformed row lands in quarantine,
    * not in the aggregate. */
  def sourceCsvRoundtrip(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    val dir = LayoutLock.once("lineitem_csv", d) { out =>
      graft.sources.Ingest.writeCsv(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag"), col("l_quantity"), col("l_extendedprice"),
          col("l_shipdate")),
        out)
    }
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_returnflag", StringType), StructField("l_quantity", DoubleType),
      StructField("l_extendedprice", DoubleType), StructField("l_shipdate", TimestampType)))
    val (valid, _) = graft.sources.Ingest.partitionValid(
      graft.sources.Ingest.readCsv(s, dir, schema))
    valid
      .filter(col("l_shipdate").between(
        lit("1996-01-01").cast("timestamp"), lit("1997-12-31").cast("timestamp")))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_quantity")), 2).as("qty"),
        round(sum(col("l_extendedprice")), 2).as("revenue"))
      .orderBy(col("l_returnflag"))
  }

  /** #148 judged JSON-LINES ROUND-TRIP ingestion — the semi-structured
    * sibling of [[sourceCsvRoundtrip]]: documents (arbitrary unicode
    * text with newlines/quotes — exactly what CSV can't carry without
    * quoting discipline) written as JSON-lines, read back against the
    * declared schema with quarantine, and judged against the PLAIN
    * parquet table. The md5-sum column is the fidelity proof: equality
    * requires every text byte to survive the JSON escape/unescape hop
    * exactly — one flipped character anywhere in the corpus moves the
    * per-lang hash sum. Same per-JVM lifetime/marker protocol. */
  def sourceJsonRoundtrip(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    val dir = LayoutLock.once("documents_json", d) { out =>
      graft.sources.Ingest.writeJson(
        Tables.documents(s, d).select(col("doc_id"), col("lang"),
          col("source"), col("text"), col("n_chars")),
        out)
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("source", StringType), StructField("text", StringType),
      StructField("n_chars", LongType)))
    val (valid, _) = graft.sources.Ingest.partitionValid(
      graft.sources.Ingest.readJson(s, dir, schema))
    valid
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        sum(col("n_chars")).as("chars"),
        sum(length(col("text"))).as("chars_live"),
        sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long")).as("text_hash_sum"))
      .orderBy(col("lang"))
  }

  /** #150 judged ORC ROUND-TRIP ingestion, hive-partitioned — the
    * columnar-interchange sibling of [[sourceCsvRoundtrip]]: orders
    * written as ORC partitioned by derived `o_year` directories
    * ([[graft.sources.Ingest.writeOrcPartitioned]]), read back through
    * the vectorized ORC reader, year filter pruning whole directories
    * at PLANNING time, aggregate judged against the PLAIN-parquet
    * oracle (which filters `year(o_orderdate)` directly). Proves the
    * ORC write→read path preserves longs/doubles/timestamps exactly
    * AND that hive partitioning composes with a second format. Same
    * per-JVM lifetime/marker protocol as the other layouts. */
  def sourceOrcRoundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = LayoutLock.once("orders_orc", d) { out =>
      graft.sources.Ingest.writeOrcPartitioned(
        Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
            col("o_orderdate"), year(col("o_orderdate")).as("o_year"))
          .repartition(col("o_year")),
        out, Seq("o_year"))
    }
    s.read.orc(dir)
      .filter(col("o_year").between(1996, 1998))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total"),
        max(col("o_orderdate")).cast("timestamp_ntz").as("last_order"))
      .orderBy(col("o_orderstatus"))
  }

  /** #216 AVRO ingestion round-trip — the most common row-oriented
    * ingestion format, carried by the hand-rolled object-container
    * codec in [[graft.sources.Avro]] (no spark-avro DataSource exists
    * in this offline toolchain; AvroSpec cross-validates both
    * directions against the `org.apache.avro` reference reader/writer
    * on Spark's own classpath). Orders is projected to the codec's full
    * judged type surface — long, DERIVED nulls (every 11th custkey, so
    * the `["null",T]` union decode is proven by the hash, not just
    * spec'd), string, double, exact-µs `local-timestamp-micros`, int,
    * boolean — written as deflate blocks (one container per input
    * partition, executor-side), read back via the declared-schema
    * reader, and judged as round-trip INVISIBILITY: the oracle computes
    * the same aggregate from plain parquet with the null-derivation
    * inlined, so one mis-decoded varint, union branch, or timestamp
    * micro moves the hash. Same per-JVM layout protocol as CSV/JSON/
    * ORC. Scale: write parallelism = upstream partitioning; read
    * parallelism = one streamed task per container file. */
  def sourceAvroRoundtrip(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    val declared = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampNTZType),
      StructField("o_bucket", IntegerType),
      StructField("o_big", BooleanType)))
    val dir = LayoutLock.once("orders_avro", d) { out =>
      graft.sources.Avro.writeAvro(
        Tables.orders(s, d).select(
          col("o_orderkey"),
          when(col("o_orderkey") % 11 === 0, lit(null))
            .otherwise(col("o_custkey")).as("o_custkey"),
          col("o_orderstatus"),
          col("o_totalprice"),
          col("o_orderdate").cast("timestamp_ntz").as("o_orderdate"),
          (col("o_orderkey") % 97).cast("int").as("o_bucket"),
          (col("o_totalprice") > 150000.0).as("o_big")),
        out, codec = "deflate")
    }
    graft.sources.Avro.readAvro(s, dir, declared)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        count(col("o_custkey")).as("n_cust"),
        sum(col("o_custkey")).cast("long").as("sum_cust"),
        round(sum(col("o_totalprice")), 2).as("total"),
        max(col("o_orderdate")).as("last_order"),
        sum(col("o_bucket")).cast("long").as("sum_bucket"),
        sum(when(col("o_big"), 1L).otherwise(0L)).as("n_big"))
      .orderBy(col("o_orderstatus"))
  }

  /** #220 AVRO QUARANTINE under the oracle — the fault-isolation
    * contract itself judged, not just spec'd: the layout holds the
    * good deflate containers of [[sourceAvroRoundtrip]]'s projection
    * PLUS two planted corrupt ones (a non-Avro payload and a copy of a
    * good container truncated mid-final-block), and
    * [[graft.sources.Avro.readAvroWithQuarantine]] must (a) quarantine
    * exactly the two corrupt FILES — surfaced as the constant
    * `n_quarantined` column the oracle pins to 2 — and (b) decode
    * every row of every clean file, which the aggregate proves against
    * the plain-parquet oracle: a quarantine that eats a good file
    * drops rows, one that half-salvages a corrupt copy DUPLICATES
    * rows, and both move `n`/`sum_cust`/`total`. This is the 100 TB
    * ingestion-gate posture: one corrupt container must cost one
    * quarantine row, never the job and never silent data movement. */
  def sourceAvroQuarantine(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    val declared = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType)))
    val dir = LayoutLock.once("orders_avro_q", d) { out =>
      graft.sources.Avro.writeAvro(
        Tables.orders(s, d).select(
          col("o_orderkey"),
          when(col("o_orderkey") % 11 === 0, lit(null))
            .otherwise(col("o_custkey")).as("o_custkey"),
          col("o_orderstatus"),
          col("o_totalprice")),
        out, codec = "deflate")
      // plant the corruption: one non-Avro payload, one good container
      // truncated mid-final-block (inside the trailing sync marker)
      val p = java.nio.file.Paths.get(out)
      java.nio.file.Files.write(p.resolve("bad_magic.avro"),
        "this is not an avro object container".getBytes("UTF-8"))
      val good = new java.io.File(out).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".avro"))
        .minBy(_.getName)
      val bytes = java.nio.file.Files.readAllBytes(good.toPath)
      java.nio.file.Files.write(p.resolve("zz_truncated.avro"),
        java.util.Arrays.copyOf(bytes, bytes.length - 9))
    }
    val (data, quarantine) = graft.sources.Avro.readAvroWithQuarantine(s, dir, declared)
    data.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_custkey")).cast("long").as("sum_cust"),
        round(sum(col("o_totalprice")), 2).as("total"))
      .crossJoin(broadcast(quarantine.agg(count(lit(1)).as("n_quarantined"))))
      .orderBy(col("o_orderstatus"))
  }

  /** #221 AVRO SYNC-MARKER SUB-FILE SPLIT under the oracle — the
    * straggler-killer judged as SPLIT INVISIBILITY: the layout writes
    * orders as ONE deflate container with many small blocks (the
    * third-party multi-GB-file shape, scaled down), and the read goes
    * through [[graft.sources.Avro.readAvroSplit]] with a splitBytes
    * forcing ~24 byte-range tasks over that single file — each task
    * seeks into its range, scans to the next 16-byte sync marker, and
    * decodes exactly the blocks whose start falls in its range. The
    * oracle computes the same aggregate from plain parquet, so a block
    * decoded twice (overlapping ownership), dropped (orphaned between
    * splits), or mis-synced (scan landing inside a block) moves
    * n/sum_cust/total and fails the hash. This is the 100 TB posture
    * for foreign containers: file count no longer bounds parallelism,
    * one 40 GB file fans out instead of straggling. */
  def sourceAvroSplit(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    val declared = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType)))
    val dir = LayoutLock.once("orders_avro_one", d) { out =>
      graft.sources.Avro.writeAvro(
        Tables.orders(s, d).select(
          col("o_orderkey"),
          when(col("o_orderkey") % 11 === 0, lit(null))
            .otherwise(col("o_custkey")).as("o_custkey"),
          col("o_orderstatus"),
          col("o_totalprice"))
          .repartition(1), // ONE container: the straggler shape
        out, codec = "deflate", blockRows = 256)
    }
    val totalLen = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".avro")).map(_.length).sum
    val splitBytes = math.max(totalLen / 24, 1024L) // force real multi-split
    graft.sources.Avro.readAvroSplit(s, dir, declared, splitBytes)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_custkey")).cast("long").as("sum_cust"),
        round(sum(col("o_totalprice")), 2).as("total"),
        max(col("o_orderkey")).as("last_key"))
      .orderBy(col("o_orderstatus"))
  }

  /** Closed-form WARC response record for key `pk` — every header and
    * the HTML body a key function, so the oracle can rebuild the whole
    * crawl-to-text chain from `part` alone. */
  private val makeWarcRecord = udf { (pk: Long) =>
    val html = s"<html><head><title>T$pk</title></head><body>" +
      s"<p>alpha $pk beta ${(pk * pk) % 9973}</p><b>tok${pk % 13}</b></body></html>"
    val status = if (pk % 10 == 0) 404 else 200
    val reason = if (status == 404) "Not Found" else "OK"
    val payload = graft.sources.Warc.encodeHttpResponse(
      status, reason, "text/html; charset=utf-8", html.getBytes("UTF-8"))
    (
      "response",
      s"http://site-${pk % 7}.example/page/$pk",
      f"2024-${1 + pk % 12}%02d-${1 + pk % 28}%02dT${pk % 24}%02d:${pk % 60}%02d:${pk % 60}%02dZ",
      f"<urn:uuid:00000000-0000-0000-0000-$pk%012d>",
      "application/http;msgtype=response",
      payload)
  }
  /** HTTP payload → (status, content-type, detected charset, decoded
    * body text). Decoding is charset-AWARE ([[graft.sources
    * .HttpCharset]]: BOM > Content-Type charset param > meta prescan >
    * windows-1252 default, the WHATWG browser precedence) — blind
    * UTF-8 would mojibake the cp1252/UTF-16 fraction of a real crawl.
    * Pure-ASCII bodies decode identically under every charset here, so
    * the pre-existing ASCII fixtures are unaffected. */
  private val parseHttp = udf { (payload: Array[Byte]) =>
    val (code, ctype, body) = graft.sources.Warc.parseHttpResponse(payload)
    val (charset, text) = graft.sources.HttpCharset.decode(ctype, body)
    (code, ctype, charset, text)
  }

  /** #226 judged WARC CRAWL-TO-TEXT chain (round-15) — the entry point
    * of a web-scale text pipeline under the oracle, end to end: the
    * layout writes a one-gzip-member-per-record `.warc.gz` (the crawl
    * convention; a warcinfo record leads, as real crawlers emit) whose
    * every response record is a closed-form key function; the read
    * walks the multi-member gzip through the strict WARC/1.1 parser
    * ([[graft.sources.Warc]]), splits each record's HTTP/1.1 payload
    * into status/content-type/body, extracts the page text with
    * [[graft.functions.Html.extractText]] (script/style content
    * dropped, tags stripped, entities decoded), and emits per-page
    * status, content type, byte length and extracted text. The oracle
    * rebuilds the identical HTML from the key and replays the same
    * extraction ([[graft.functions.Html.duckExtractSql]]) — so
    * one CRLF slip, a mis-split HTTP header block, a gzip member
    * boundary error, or a Content-Length off-by-one moves text or
    * lengths and fails the hash. Scale shape: crawl corpora ship many
    * container files (one per crawler shard), so the file count is the
    * split unit; per-record work is embarrassingly parallel and the
    * only shuffle is the bounded ordered output. */
  def sourceWarcExtract(s: SparkSession, d: String): DataFrame = {
    val dir = LayoutLock.once("warc_crawl", d) { out =>
      val info = Seq(("warcinfo", null: String,
        "2024-01-01T00:00:00Z", "<urn:uuid:00000000-0000-0000-0000-999999999999>",
        "application/warc-fields",
        "software: graft-synthetic-crawler\r\n".getBytes("UTF-8")))
      val infoDf = s.createDataFrame(info)
        .toDF("warc_type", "target_uri", "warc_date", "record_id",
          "content_type", "payload")
      val recs = Tables.part(s, d)
        .filter(col("p_partkey") <= 150)
        .select(makeWarcRecord(col("p_partkey")).as("r"))
        .select(col("r._1").as("warc_type"), col("r._2").as("target_uri"),
          col("r._3").as("warc_date"), col("r._4").as("record_id"),
          col("r._5").as("content_type"), col("r._6").as("payload"))
      graft.sources.Warc.writeWarc(
        infoDf.unionByName(recs).repartition(1), out, gzipPerRecord = true)
    }
    graft.sources.Warc.readWarc(s, dir)
      .filter(col("warc_type") === "response")
      .withColumn("k", regexp_extract(col("target_uri"), "/page/(\\d+)$", 1)
        .cast("long"))
      .withColumn("h", parseHttp(col("payload")))
      .select(col("k"),
        col("target_uri"),
        col("h._1").cast("long").as("status"),
        col("h._2").as("http_ctype"),
        length(col("h._4")).cast("long").as("body_len"),
        graft.functions.Html.extractText(col("h._4")).as("text"))
      .withColumn("n_text_chars", length(col("text")).cast("long"))
      .orderBy(col("k"))
  }

  /** Closed-form CHUNKED WARC response record for key `pk`: the HTML
    * (script + style + entities, all key functions) wrapped in a
    * `Transfer-Encoding: chunked` HTTP message whose chunk size ALSO
    * varies with the key — so the corpus exercises many framings and
    * the oracle can rebuild every page from `part` alone. */
  private val makeChunkedWarcRecord = udf { (pk: Long) =>
    val html = s"<html><head><title>C$pk</title>" +
      s"<style>p { margin: ${pk % 7}px; }</style></head>" +
      s"<body><script>var n = $pk; if (n < 100 && n > 3) { mark(n); }</script>" +
      s"<p>chunked $pk gamma ${(pk * 31) % 9973} &amp; delta " +
      s"&lt;${pk % 13}&gt;&nbsp;end</p></body></html>"
    val status = if (pk % 10 == 0) 404 else 200
    val reason = if (status == 404) "Not Found" else "OK"
    val payload = graft.sources.Warc.encodeHttpResponseChunked(
      status, reason, "text/html; charset=utf-8", html.getBytes("UTF-8"),
      chunkSize = ((pk % 5) + 1).toInt * 16)
    (
      "response",
      s"http://chunked-${pk % 5}.example/page/$pk",
      f"2024-${1 + pk % 12}%02d-${1 + pk % 28}%02dT00:00:00Z",
      f"<urn:uuid:00000000-0000-0000-0001-$pk%012d>",
      "application/http;msgtype=response",
      payload)
  }

  /** #233 judged CHUNKED-TRANSFER crawl chain (round-16) — the message
    * form real crawl WARCs are full of, end to end under the oracle:
    * every response payload is a `Transfer-Encoding: chunked` HTTP/1.1
    * message (chunk size varying per page, so many framings are
    * exercised) whose HTML carries script/style blocks and entities;
    * the read walks the WARC, DECHUNKS the body
    * ([[graft.sources.Warc.parseHttpResponse]] — strict size-line /
    * CRLF / zero-chunk framing), and extracts page text with
    * [[graft.functions.Html.extractText]]. The oracle rebuilds each
    * page's HTML from the key and replays the extraction on the
    * UNCHUNKED closed form — so one mis-framed chunk, a kept framing
    * byte, a lost tail chunk, or an un-decoded entity moves body_len,
    * text, or n_text_chars and fails the hash. Before this chain
    * existed, chunked bodies would have carried their framing into
    * every downstream feature. Scale shape: identical to
    * [[sourceWarcExtract]] — per-record work is embarrassingly
    * parallel, files are the split unit. */
  def sourceWarcChunked(s: SparkSession, d: String): DataFrame = {
    val dir = LayoutLock.once("warc_crawl_chunked", d) { out =>
      val recs = Tables.part(s, d)
        .filter(col("p_partkey") <= 150)
        .select(makeChunkedWarcRecord(col("p_partkey")).as("r"))
        .select(col("r._1").as("warc_type"), col("r._2").as("target_uri"),
          col("r._3").as("warc_date"), col("r._4").as("record_id"),
          col("r._5").as("content_type"), col("r._6").as("payload"))
      graft.sources.Warc.writeWarc(recs.repartition(1), out, gzipPerRecord = true)
    }
    graft.sources.Warc.readWarc(s, dir)
      .filter(col("warc_type") === "response")
      .withColumn("k", regexp_extract(col("target_uri"), "/page/(\\d+)$", 1)
        .cast("long"))
      .withColumn("h", parseHttp(col("payload")))
      .select(col("k"),
        col("h._1").cast("long").as("status"),
        length(col("h._4")).cast("long").as("body_len"),
        graft.functions.Html.extractText(col("h._4")).as("text"))
      .withColumn("n_text_chars", length(col("text")).cast("long"))
      .orderBy(col("k"))
  }

  /** Closed-form gzip-Content-Encoding WARC response for key `pk`:
    * even keys Content-Length-framed over the compressed bytes, odd
    * keys chunked + gzipped stacked (framing over representation, the
    * RFC layering) — so the corpus exercises both paths and their
    * composition. */
  private val makeEncodedWarcRecord = udf { (pk: Long) =>
    val html = s"<html><head><title>G$pk</title></head>" +
      s"<body><script>var g = $pk; if (g < 50 && g > 1) { ping(g); }</script>" +
      s"<p>gzipped $pk sigma ${(pk * 37) % 9973} &amp; rho &lt;${pk % 11}&gt; fin</p>" +
      "</body></html>"
    val status = if (pk % 10 == 0) 404 else 200
    val reason = if (status == 404) "Not Found" else "OK"
    val chunkSize = if (pk % 2 == 0) 0 else ((pk % 5) + 1).toInt * 16
    val payload = graft.sources.Warc.encodeHttpResponseGzip(
      status, reason, "text/html; charset=utf-8", html.getBytes("UTF-8"), chunkSize)
    (
      "response",
      s"http://gz-${pk % 3}.example/page/$pk",
      f"2024-${1 + pk % 12}%02d-${1 + pk % 28}%02dT00:00:00Z",
      f"<urn:uuid:00000000-0000-0000-0002-$pk%012d>",
      "application/http;msgtype=response",
      payload)
  }

  /** #236 judged GZIP-CONTENT-ENCODING crawl chain (round-16) — how
    * most real servers actually send text: every response body travels
    * gzip-compressed (`Content-Encoding: gzip`), even keys framed by
    * Content-Length over the compressed bytes, odd keys ALSO chunked —
    * the two layers stacked in RFC order, framing outside
    * representation. The read must dechunk, THEN gunzip
    * ([[graft.sources.Warc.parseHttpResponse]] — a corrupt stream or
    * an unsupported coding fails loudly; compressed bytes must never
    * pass through as "text"), then extract. The oracle rebuilds each
    * page's UNCOMPRESSED closed form, so a skipped gunzip, a wrong
    * layering order, or a truncated stream moves body_len/text and
    * fails the hash. Same scale shape as the sibling crawl rows. */
  def sourceWarcEncoded(s: SparkSession, d: String): DataFrame = {
    val dir = LayoutLock.once("warc_crawl_gz", d) { out =>
      val recs = Tables.part(s, d)
        .filter(col("p_partkey") <= 150)
        .select(makeEncodedWarcRecord(col("p_partkey")).as("r"))
        .select(col("r._1").as("warc_type"), col("r._2").as("target_uri"),
          col("r._3").as("warc_date"), col("r._4").as("record_id"),
          col("r._5").as("content_type"), col("r._6").as("payload"))
      graft.sources.Warc.writeWarc(recs.repartition(1), out, gzipPerRecord = true)
    }
    graft.sources.Warc.readWarc(s, dir)
      .filter(col("warc_type") === "response")
      .withColumn("k", regexp_extract(col("target_uri"), "/page/(\\d+)$", 1)
        .cast("long"))
      .withColumn("h", parseHttp(col("payload")))
      .select(col("k"),
        col("h._1").cast("long").as("status"),
        length(col("h._4")).cast("long").as("body_len"),
        graft.functions.Html.extractText(col("h._4")).as("text"))
      .withColumn("n_text_chars", length(col("text")).cast("long"))
      .orderBy(col("k"))
  }

  /** Closed-form MIXED-CHARSET WARC response record for key `pk`: six
    * rotating declaration/encoding shapes (see [[sourceWarcCharset]]),
    * every byte a key function so the oracle can rebuild each page's
    * decoded text from `part` alone. */
  private val makeCharsetWarcRecord = udf { (pk: Long) =>
    val variant = (pk % 6).toInt
    val meta = if (variant == 2)
      "<meta http-equiv=\"Content-Type\" content=\"text/html; charset=iso-8859-1\">"
    else ""
    val payloadText = variant match {
      case 0 => "Ωαβγ"        // Ωαβγ — beyond latin
      case 1 => "café €"                 // é + € (cp1252 0x80)
      case 2 => "café ±"                 // latin-1 bytes
      case 3 => "naïve Ω"                // ï + Ω
      case 4 => "résumé"                 // undeclared cp1252
      case _ => "utf16 ✓"                     // ✓ U+2713
    }
    val html = s"<html><head><title>E$pk</title>$meta</head><body>" +
      s"<p>enc $pk $payloadText tail ${(pk * 41) % 9973}</p></body></html>"
    val ctype = variant match {
      case 0 => "text/html; charset=utf-8"
      case 1 => "text/html; charset=windows-1252"
      case 3 => "text/html; charset=iso-8859-1"   // LIES — body is UTF-8+BOM
      case _ => "text/html"
    }
    val body = variant match {
      case 0 => html.getBytes("UTF-8")
      case 1 => html.getBytes("windows-1252")
      case 2 => html.getBytes("ISO-8859-1")
      case 3 =>
        val b = html.getBytes("UTF-8")
        val out = new Array[Byte](b.length + 3)
        out(0) = 0xEF.toByte; out(1) = 0xBB.toByte; out(2) = 0xBF.toByte
        System.arraycopy(b, 0, out, 3, b.length); out
      case 4 => html.getBytes("windows-1252")
      case _ =>
        val b = html.getBytes("UTF-16LE")
        val out = new Array[Byte](b.length + 2)
        out(0) = 0xFF.toByte; out(1) = 0xFE.toByte
        System.arraycopy(b, 0, out, 2, b.length); out
    }
    val payload = graft.sources.Warc.encodeHttpResponse(200, "OK", ctype, body)
    (
      "response",
      s"http://site-${pk % 7}.example/enc/$pk",
      f"2024-${1 + pk % 12}%02d-${1 + pk % 28}%02dT${pk % 24}%02d:${pk % 60}%02d:${pk % 60}%02dZ",
      f"<urn:uuid:00000000-0000-0000-0001-$pk%012d>",
      "application/http;msgtype=response",
      payload)
  }

  /** #237 judged CHARSET-AWARE crawl decoding (round-16) — the step a
    * blind-UTF-8 reader gets wrong on most of the real web: pages
    * arrive windows-1252 (usually mislabeled iso-8859-1), UTF-16
    * behind BOMs, or with the encoding declared only in a `<meta>`
    * tag. The corpus rotates SIX declaration/encoding shapes per key
    * ([[makeCharsetWarcRecord]]): (0) UTF-8 via Content-Type, (1)
    * cp1252 via Content-Type with a 0x80 `€` — the byte latin-1 maps
    * to a C1 control, so a latin-1 decode would differ, (2) latin-1
    * bytes declared ONLY by meta prescan, (3) UTF-8 with BOM under a
    * LYING `charset=iso-8859-1` header — BOM must win, (4) cp1252
    * with NO declaration anywhere — the windows-1252 default, (5)
    * UTF-16LE by BOM. [[graft.sources.HttpCharset]] applies the WHATWG
    * precedence; the oracle rebuilds each page's decoded text from
    * `part` with `chr()` codepoints, so one wrong precedence rule,
    * label alias, BOM strip, or decode pass moves text/n_chars and
    * fails the hash. Scale shape: detection reads ≤1 KB per page and
    * the decode is the same single pass a blind reader does — charset
    * correctness is free at 100 TB. */
  def sourceWarcCharset(s: SparkSession, d: String): DataFrame = {
    val dir = LayoutLock.once("warc_crawl_charset", d) { out =>
      val recs = Tables.part(s, d)
        .filter(col("p_partkey") <= 150)
        .select(makeCharsetWarcRecord(col("p_partkey")).as("r"))
        .select(col("r._1").as("warc_type"), col("r._2").as("target_uri"),
          col("r._3").as("warc_date"), col("r._4").as("record_id"),
          col("r._5").as("content_type"), col("r._6").as("payload"))
      graft.sources.Warc.writeWarc(recs.repartition(1), out, gzipPerRecord = true)
    }
    graft.sources.Warc.readWarc(s, dir)
      .filter(col("warc_type") === "response")
      .withColumn("k", regexp_extract(col("target_uri"), "/enc/(\\d+)$", 1)
        .cast("long"))
      .withColumn("h", parseHttp(col("payload")))
      .select(col("k"),
        col("h._3").as("charset"),
        graft.functions.Html.extractText(col("h._4")).as("text"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .orderBy(col("k"))
  }

  /** Closed-form REVISIT-GRAPH WARC record for key `pk`: content
    * identity is `c = pk % 40`, so each of the 40 page bodies is
    * stored ONCE (the `pk < 40` fetch is the full `response` record)
    * and every later fetch of the same content is a `revisit` record
    * — empty payload, `WARC-Payload-Digest`/`WARC-Refers-To-Target-
    * URI`/`WARC-Profile` headers only, exactly how crawl-time dedup
    * (ISO 28500 / WARC 1.1 §6.7.2 identical-payload-digest) writes
    * them. Every 37th key ≥ 40 is a PHANTOM revisit whose digest
    * matches nothing stored — the original was crawled by another
    * shard or lost. Returns the 6 core columns + extra_headers. */
  private val makeRevisitWarcRecord = udf { (pk: Long) =>
    val c = pk % 40
    val content = s"<html><body><p>content $c gamma ${(c * 61) % 9973}</p></body></html>"
    def sha256Hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8"))
      d.map(b => f"$b%02x").mkString
    }
    val date =
      f"2024-${1 + pk % 12}%02d-${1 + pk % 28}%02dT${pk % 24}%02d:${pk % 60}%02d:${pk % 60}%02dZ"
    val id = f"<urn:uuid:00000000-0000-0000-0004-$pk%012d>"
    if (pk < 40)
      ("response", s"http://site.example/p/$pk", date, id,
        "application/http;msgtype=response",
        graft.sources.Warc.encodeHttpResponse(200, "OK",
          "text/html; charset=utf-8", content.getBytes("UTF-8")),
        null: Seq[String])
    else {
      val phantom = pk % 37 == 0
      val digest =
        if (phantom) sha256Hex(s"phantom $pk") else sha256Hex(content)
      val refers = if (phantom) "/p/missing" else s"/p/$c"
      ("revisit", s"http://site.example/p/$pk", date, id,
        "application/http;msgtype=response",
        Array.empty[Byte],
        Seq(
          s"WARC-Payload-Digest: sha256:$digest",
          s"WARC-Refers-To-Target-URI: $refers",
          "WARC-Profile: http://netpreservation.org/warc/1.1/revisit/identical-payload-digest"))
    }
  }

  /** #247 judged REVISIT-RECORD RESOLUTION (round-17) — how crawl
    * archives actually store refetches: when a page's payload digest
    * matches an earlier capture, the archive writes a `revisit`
    * record (WARC 1.1 §6.7.2 identical-payload-digest profile) with
    * NO payload, just `WARC-Payload-Digest` + `WARC-Refers-To-*`
    * headers — so a consumer that ignores revisit records silently
    * drops most refetch history, and one that can't resolve them
    * can't reconstruct what each fetch SAW. This row reconstructs the
    * full fetch view: responses surface their own text and a
    * self-computed payload digest; revisits resolve their stored
    * digest against the response set (left join on digest — exact,
    * content-addressed), verify the `WARC-Refers-To-Target-URI`
    * agrees with the resolved original, and PHANTOM digests (original
    * crawled by another shard or lost) surface as unresolved rows,
    * never errors. The oracle rebuilds the graph closed-form with
    * DuckDB's own sha256, so a digest mismatch ANYWHERE (writer
    * header, reader parse, join) flips rows. Scale shape: the join is
    * content-addressed on the digest — both sides hash-partition on
    * it, revisits are the big side and shrink nothing, responses are
    * the stored-once side; this is exactly the shuffle a revisit-
    * aware corpus rebuild pays, and the only one. */
  def sourceWarcRevisit(s: SparkSession, d: String): DataFrame = {
    val dir = LayoutLock.once("warc_crawl_revisit", d) { out =>
      val recs = Tables.part(s, d)
        .filter(col("p_partkey") <= 300)
        .select(makeRevisitWarcRecord(col("p_partkey")).as("r"))
        .select(col("r._1").as("warc_type"), col("r._2").as("target_uri"),
          col("r._3").as("warc_date"), col("r._4").as("record_id"),
          col("r._5").as("content_type"), col("r._6").as("payload"),
          col("r._7").as("extra_headers"))
      graft.sources.Warc.writeWarc(recs.repartition(1), out, gzipPerRecord = true)
    }
    val recs = graft.sources.Warc.readWarcExt(s, dir)
      .withColumn("k", regexp_extract(col("target_uri"), "/p/(\\d+)$", 1)
        .cast("long"))
    val resp = recs.filter(col("warc_type") === "response")
      .withColumn("h", parseHttp(col("payload")))
      .select(col("k"), col("h._4").as("body"),
        // bodies are ASCII, so the digest of the decoded string's
        // UTF-8 bytes IS the payload digest
        sha2(col("h._4"), 256).as("digest"))
    val rev = recs.filter(col("warc_type") === "revisit")
      .select(col("k"),
        regexp_replace(
          element_at(col("warc_headers"), "warc-payload-digest"),
          "^sha256:", "").as("digest"),
        element_at(col("warc_headers"), "warc-refers-to-target-uri")
          .as("refers_uri"))
    val respKeyed = resp.select(col("digest"),
      col("k").as("source_k"), col("body").as("src_body"))
    val revResolved = rev.join(respKeyed, Seq("digest"), "left")
      .select(col("k"), lit("revisit").as("warc_type"), col("digest"),
        col("source_k"),
        col("source_k").isNotNull.as("resolved"),
        coalesce(col("refers_uri") ===
          concat(lit("/p/"), col("source_k").cast("string")), lit(false))
          .as("refers_match"),
        when(col("source_k").isNotNull,
          graft.functions.Html.extractText(col("src_body"))).as("text"))
    val respOut = resp
      .select(col("k"), lit("response").as("warc_type"), col("digest"),
        col("k").as("source_k"), lit(true).as("resolved"),
        lit(true).as("refers_match"),
        graft.functions.Html.extractText(col("body")).as("text"))
    respOut.unionByName(revResolved)
      .withColumn("n_chars", length(col("text")).cast("long"))
      .orderBy(col("k"))
  }

  /** Closed-form REDIRECT-GRAPH WARC record for key `pk`: last digit
    * selects the page's role — `0`/`5` a 301 hop to `pk+1`, `4` a 302
    * entering a 2-hop chain (`pk`→`pk+1`(301)→`pk+2`), `7` a 301
    * SELF-loop, everything else a 200 landing page. Chains that point
    * past the corpus edge dangle — exactly like a redirect target the
    * crawler never fetched. */
  private val makeRedirectWarcRecord = udf { (pk: Long) =>
    val m = pk % 10
    val payload =
      if (m == 0 || m == 5)
        graft.sources.Warc.encodeHttpRedirect(301, "Moved Permanently", s"/r/${pk + 1}")
      else if (m == 4)
        graft.sources.Warc.encodeHttpRedirect(302, "Found", s"/r/${pk + 1}")
      else if (m == 7)
        graft.sources.Warc.encodeHttpRedirect(301, "Moved Permanently", s"/r/$pk")
      else
        graft.sources.Warc.encodeHttpResponse(200, "OK",
          "text/html; charset=utf-8",
          s"<html><body><p>landing $pk</p></body></html>".getBytes("UTF-8"))
    (
      "response",
      s"http://site.example/r/$pk",
      f"2024-${1 + pk % 12}%02d-${1 + pk % 28}%02dT${pk % 24}%02d:${pk % 60}%02d:${pk % 60}%02dZ",
      f"<urn:uuid:00000000-0000-0000-0003-$pk%012d>",
      "application/http;msgtype=response",
      payload)
  }

  /** (status, Location) from a response payload without decoding the
    * body — 3xx bodies are empty/irrelevant and decoding them per
    * record would be wasted work at crawl scale. */
  private val parseRedirect = udf { (payload: Array[Byte]) =>
    val (code, loc) = graft.sources.Warc.httpStatusHeader(payload, "location")
    (code, loc)
  }

  /** #246 judged REDIRECT-CHAIN RESOLUTION (round-17) — a large
    * fraction of real crawl fetches land on 301/302 before content,
    * and mapping every fetched URL to its FINAL landing page (or
    * flagging it dangling/looping) is the first graph pass a crawl
    * corpus needs: dedup, canonical-URL grouping, and link analysis
    * all key on the resolved target. The corpus is a closed-form
    * redirect graph ([[makeRedirectWarcRecord]]: 1-hop and 2-hop
    * chains, chains entered mid-way, SELF-loops, and corpus-edge
    * danglers — targets the crawler never fetched); the read extracts
    * (status, Location) per record WITHOUT body decode, then resolves
    * every page through up to 3 hops RELATIONALLY — three left joins
    * against the page set itself, with loop detection comparing each
    * arrival against the visited prefix — and emits final path,
    * hop count, resolved/loop flags. The oracle rebuilds the same
    * graph closed-form and replays the identical 3-join cascade, so a
    * mis-parsed Location, wrong join, or wrong loop/dangling
    * precedence flips rows. Scale shape: each hop is ONE hash join of
    * the redirect subset against the page map (both sides partitioned
    * on the join key; the redirect side shrinks every hop as chains
    * resolve); bounded-hop resolution is how production crawlers do
    * it — unbounded chasing is a DoS vector, and loops surface as
    * flags, not infinite work. */
  def sourceWarcRedirect(s: SparkSession, d: String): DataFrame = {
    val dir = LayoutLock.once("warc_crawl_redirect", d) { out =>
      val recs = Tables.part(s, d)
        .filter(col("p_partkey") <= 300)
        .select(makeRedirectWarcRecord(col("p_partkey")).as("r"))
        .select(col("r._1").as("warc_type"), col("r._2").as("target_uri"),
          col("r._3").as("warc_date"), col("r._4").as("record_id"),
          col("r._5").as("content_type"), col("r._6").as("payload"))
      graft.sources.Warc.writeWarc(recs.repartition(1), out, gzipPerRecord = true)
    }
    val pages = graft.sources.Warc.readWarc(s, dir)
      .filter(col("warc_type") === "response")
      .withColumn("k", regexp_extract(col("target_uri"), "/r/(\\d+)$", 1)
        .cast("long"))
      .withColumn("h", parseRedirect(col("payload")))
      .select(col("k"), concat(lit("/r/"), col("k").cast("string")).as("u0"),
        col("h._1").cast("long").as("status"), col("h._2").as("u1"))
    val m1 = pages.select(col("u0").as("t1"), col("status").as("s1"),
      col("u1").as("l1"))
    val m2 = pages.select(col("u0").as("t2"), col("status").as("s2"),
      col("u1").as("l2"))
    val m3 = pages.select(col("u0").as("t3"), col("status").as("s3"))
    val j = pages
      .join(m1, col("u1") === col("t1"), "left")
      .withColumn("u2", col("l1"))
      .join(m2, col("u2") === col("t2"), "left")
      .withColumn("u3", col("l2"))
      .join(m3, col("u3") === col("t3"), "left")
    def res(f: Column, n: Long, r: Boolean, lp: Boolean): Column = struct(
      f.as("f"), lit(n).as("n"), lit(r).as("r"), lit(lp).as("lp"))
    j.select(col("k"), col("status"),
        when(col("status") === 200, res(col("u0"), 0L, r = true, lp = false))
          .when(col("u1") === col("u0"), res(col("u1"), 1L, r = false, lp = true))
          .when(col("s1").isNull, res(col("u1"), 1L, r = false, lp = false))
          .when(col("s1") === 200, res(col("u1"), 1L, r = true, lp = false))
          .when(col("u2") === col("u0") || col("u2") === col("u1"),
            res(col("u2"), 2L, r = false, lp = true))
          .when(col("s2").isNull, res(col("u2"), 2L, r = false, lp = false))
          .when(col("s2") === 200, res(col("u2"), 2L, r = true, lp = false))
          .when(col("u3") === col("u0") || col("u3") === col("u1") ||
              col("u3") === col("u2"),
            res(col("u3"), 3L, r = false, lp = true))
          .when(col("s3") === 200, res(col("u3"), 3L, r = true, lp = false))
          .otherwise(res(col("u3"), 3L, r = false, lp = false))
          .as("x"))
      .select(col("k"), col("status"), col("x.f").as("final_path"),
        col("x.n").as("n_hops"), col("x.r").as("resolved"),
        col("x.lp").as("looped"))
      .orderBy(col("k"))
  }

  /** Closed-form UNKNOWN-CHARSET-LABEL WARC response record for key
    * `pk`: five rotating shapes — (0) a known label as control, (1)
    * `charset=shift_jis` in the header, (2) `euc-kr` declared only by
    * meta prescan, (3) `iso-8859-2` over cp1252-safe bytes, (4) a
    * DECOY `x-nocharset=foo` parameter that must NOT parse as a
    * charset param. Every byte a key function for the oracle. */
  private val makeUnknownCharsetWarcRecord = udf { (pk: Long) =>
    val variant = (pk % 5).toInt
    val meta = if (variant == 2) "<meta charset=euc-kr>" else ""
    val payloadText = variant match {
      case 0 => "plain control"
      case 1 => "sjis page"
      case 2 => "kr page"
      case 3 => "café"    // 0xE9 under cp1252 — the fallback decode
      case _ => "résumé"  // cp1252 bytes, undeclared (decoy param)
    }
    val html = s"<html><head><title>U$pk</title>$meta</head><body>" +
      s"<p>unk $pk $payloadText tail ${(pk * 53) % 9973}</p></body></html>"
    val ctype = variant match {
      case 0 => "text/html; charset=utf-8"
      case 1 => "text/html; charset=shift_jis"
      case 2 => "text/html"
      case 3 => "text/html; charset=iso-8859-2"
      case _ => "text/html; x-nocharset=foo"
    }
    val body = variant match {
      case 3 | 4 => html.getBytes("windows-1252")
      case _ => html.getBytes("UTF-8")
    }
    val payload = graft.sources.Warc.encodeHttpResponse(200, "OK", ctype, body)
    (
      "response",
      s"http://site-${pk % 7}.example/unk/$pk",
      f"2024-${1 + pk % 12}%02d-${1 + pk % 28}%02dT${pk % 24}%02d:${pk % 60}%02d:${pk % 60}%02dZ",
      f"<urn:uuid:00000000-0000-0000-0002-$pk%012d>",
      "application/http;msgtype=response",
      payload)
  }

  /** #243 judged UNKNOWN-CHARSET QUARANTINE (round-17, closes the
    * round-16 advisory's medium finding) — real crawls carry charset
    * labels outside any fixed alias table (shift_jis, euc-kr, gb2312,
    * iso-8859-2 …), and the decode runs inside a per-page UDF: a
    * reader that THROWS on the first exotic label kills the task and
    * the 100 TB shard with it. [[graft.sources.HttpCharset]] instead
    * quarantines the page in place — decodes under the windows-1252
    * fallback (visibly, U+FFFD for unmappable bytes) and reports the
    * `unknown:<label>` sentinel in the charset column so downstream
    * curation can filter or re-route those rows. The corpus rotates
    * five shapes ([[makeUnknownCharsetWarcRecord]]), including
    * unknown labels from BOTH declaration sources (header and meta
    * prescan) and a decoy `x-nocharset=foo` parameter that a naive
    * substring match would misparse as a charset param; the oracle
    * pins every page's sentinel and decoded text, so a thrown task, a
    * silently-wrong fallback, or a decoy-param misparse fails the
    * hash. Scale shape: identical to [[sourceWarcCharset]] — the
    * sentinel path costs one map lookup, nothing more. */
  def sourceWarcCharsetUnknown(s: SparkSession, d: String): DataFrame = {
    val dir = LayoutLock.once("warc_crawl_charset_unknown", d) { out =>
      val recs = Tables.part(s, d)
        .filter(col("p_partkey") <= 150)
        .select(makeUnknownCharsetWarcRecord(col("p_partkey")).as("r"))
        .select(col("r._1").as("warc_type"), col("r._2").as("target_uri"),
          col("r._3").as("warc_date"), col("r._4").as("record_id"),
          col("r._5").as("content_type"), col("r._6").as("payload"))
      graft.sources.Warc.writeWarc(recs.repartition(1), out, gzipPerRecord = true)
    }
    graft.sources.Warc.readWarc(s, dir)
      .filter(col("warc_type") === "response")
      .withColumn("k", regexp_extract(col("target_uri"), "/unk/(\\d+)$", 1)
        .cast("long"))
      .withColumn("h", parseHttp(col("payload")))
      .select(col("k"),
        col("h._3").as("charset"),
        col("h._3").startsWith("unknown:").as("quarantined"),
        graft.functions.Html.extractText(col("h._4")).as("text"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .orderBy(col("k"))
  }

  private val robotsAllowed = udf { (robots: String, path: String) =>
    graft.sources.Robots.allowed(robots, "graftbot", path)
  }

  /** #240 judged ROBOTS.TXT COMPLIANCE FILTER (round-16) — the
    * politeness/compliance gate a responsibly-built web corpus runs
    * between fetch and training ([[graft.sources.Robots]], RFC 9309):
    * each site's closed-form robots.txt carries an `otherbot`
    * block-everything group (group selection must pass it over), a
    * `graftbot` group with a prefix disallow, a LONGER allow carve-out
    * under it (longest-match must let `/private/ok/` through a
    * `/private/` block), a site-keyed disallow, a `$`-anchored
    * star-dot-pdf wildcard and a mid-segment wildcard disallow over
    * the `/dl/` download tree (star between path segments), plus a
    * `*` fallback group that must NOT apply. Six page shapes
    * per key hit every arm; the oracle pins each decision, so one
    * wrong group pick, specificity rule, tie-break, or wildcard
    * translation flips `allowed` rows and fails the hash. Scale shape:
    * robots bodies are per-HOST and tiny — compiled once per executor
    * via memo ([[graft.sources.Robots.allowed]]), evaluation is a few
    * prefix probes per page, zero shuffles beyond the ordered output. */
  def crawlRobotsFilter(s: SparkSession, d: String): DataFrame = {
    val k = col("p_partkey")
    val site = (k % 7).cast("string")
    val robots = concat(
      lit("# synthetic robots for site-"), site, lit("\n"),
      lit("User-agent: otherbot\nDisallow: /\n\n"),
      lit("User-agent: graftbot\nDisallow: /private/\n"),
      lit("Allow: /private/ok/\n"),
      lit("Disallow: /cat/"), site, lit("/\n"),
      lit("Disallow: /*.pdf$\nDisallow: /dl/*/raw\n\n"),
      lit("User-agent: *\nDisallow: /none/\n"))
    val path = when(k % 6 === 0,
        concat(lit("/cat/"), site, lit("/item"), k.cast("string")))
      .when(k % 6 === 1, concat(lit("/public/item"), k.cast("string")))
      .when(k % 6 === 2, concat(lit("/private/doc"), k.cast("string")))
      .when(k % 6 === 3, concat(lit("/private/ok/doc"), k.cast("string")))
      .when(k % 6 === 4,
        concat(lit("/public/file"), k.cast("string"), lit(".pdf")))
      .otherwise(concat(lit("/dl/v"), (k % 3).cast("string"),
        lit("/raw"), k.cast("string")))
    Tables.part(s, d)
      .filter(k <= 300)
      .select(k.as("k"), (k % 7).cast("long").as("site"),
        path.as("path"), robotsAllowed(robots, path).as("allowed"))
      .orderBy(col("k"))
  }

  /** #245 judged ROBOTS PERCENT-ENCODING decisions (round-17, closes
    * the previously documented out-of-scope) — real rule sets and
    * crawl paths mix encoded and literal spellings freely, and RFC
    * 9309 §2.2.2 / RFC 3986 pin how they compare: an UNRESERVED
    * escape (`%7E` = `~`) decodes before comparison, so either
    * spelling of pattern or path matches the other; every other
    * escape stays encoded with hex digits case-folded (`%c3%a9` ≡
    * `%C3%A9`), and `%2F` therefore never matches a literal `/` —
    * decoding it would change the path structure. Six path shapes per
    * key pin all four behaviors plus the longest-match carve-out
    * measured on NORMALIZED lengths and the `*` fallback that must
    * not apply; the oracle pins each decision, so one wrong decode
    * set, un-folded hex, or structure-changing `%2F` decode flips
    * `allowed` rows. Scale shape: identical to [[crawlRobotsFilter]]
    * — normalization is one no-allocation scan per path (fast-path
    * exit when no `%` present), zero shuffles beyond the output. */
  def crawlRobotsPctenc(s: SparkSession, d: String): DataFrame = {
    val k = col("p_partkey")
    val robots = concat(
      lit("User-agent: otherbot\nDisallow: /\n\n"),
      lit("User-agent: graftbot\n"),
      lit("Disallow: /caf%C3%A9/\n"),
      lit("Disallow: /%7Eadmin/\n"),
      lit("Allow: /~admin/public/\n"),
      lit("Disallow: /a%2Fb/\n\n"),
      lit("User-agent: *\nDisallow: /\n"))
    val path = when(k % 6 === 0,
        concat(lit("/caf%C3%A9/item"), k.cast("string")))
      .when(k % 6 === 1, concat(lit("/caf%c3%a9/item"), k.cast("string")))
      .when(k % 6 === 2, concat(lit("/~admin/sec"), k.cast("string")))
      .when(k % 6 === 3,
        concat(lit("/%7Eadmin/public/p"), k.cast("string")))
      .when(k % 6 === 4, concat(lit("/a/b/x"), k.cast("string")))
      .otherwise(concat(lit("/open/x"), k.cast("string")))
    Tables.part(s, d)
      .filter(k <= 300)
      .select(k.as("k"),
        path.as("path"), robotsAllowed(robots, path).as("allowed"))
      .orderBy(col("k"))
  }

  /** #235 judged WARC SUB-FILE SPLIT (round-16) — the
    * [[sourceAvroSplit]] posture for the crawl container: the layout
    * writes ONE fat `.warc.gz` (repartition(1) — the straggler shape a
    * single third-party container arrives in) WITH its CDX-style
    * record index, and the read fans it into ~24 forced byte-range
    * tasks via [[graft.sources.Warc.readWarcSplit]] — each task owns
    * exactly the members whose start offset falls in its range, seeks
    * once, and streams its contiguous span. The oracle computes the
    * same per-status aggregate from `part` directly, so a member
    * decoded twice (overlapping ownership), dropped (orphaned between
    * ranges), or mis-seeked (landing inside a gzip member) moves
    * n_pages/sum_body_chars/last_k and fails the hash. Closes the one
    * honest per-file-parallelism limit the WARC entry point had: gzip
    * members carry no sync marker, so the index the WRITER emits for
    * free is what makes a 40 GB container fan out instead of straggle. */
  def sourceWarcSplit(s: SparkSession, d: String): DataFrame = {
    val dir = LayoutLock.once("warc_crawl_split", d) { out =>
      val recs = Tables.part(s, d)
        .filter(col("p_partkey") <= 150)
        .select(makeWarcRecord(col("p_partkey")).as("r"))
        .select(col("r._1").as("warc_type"), col("r._2").as("target_uri"),
          col("r._3").as("warc_date"), col("r._4").as("record_id"),
          col("r._5").as("content_type"), col("r._6").as("payload"))
      graft.sources.Warc.writeWarc(recs.repartition(1), out,
        gzipPerRecord = true, index = true)
    }
    val totalLen = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".warc.gz")).map(_.length).sum
    val splitBytes = math.max(totalLen / 24, 256L) // force real multi-split
    graft.sources.Warc.readWarcSplit(s, dir, splitBytes)
      .filter(col("warc_type") === "response")
      .withColumn("k", regexp_extract(col("target_uri"), "/page/(\\d+)$", 1)
        .cast("long"))
      .withColumn("h", parseHttp(col("payload")))
      .groupBy(col("h._1").cast("long").as("status"))
      .agg(count(lit(1)).as("n_pages"),
        sum(length(col("h._4"))).cast("long").as("sum_body_chars"),
        max(col("k")).as("last_k"))
      .orderBy(col("status"))
  }

  /** #230 judged WARC QUARANTINE (round-15) — crawl fault isolation
    * under the oracle, the [[sourceAvroQuarantine]] contract on the
    * crawl container: the layout holds two clean one-member-per-record
    * `.warc.gz` shards of closed-form pages PLUS two planted corrupt
    * containers (a non-WARC payload; a good shard truncated mid-final
    * gzip member), and `readWarcWithQuarantine` must quarantine
    * exactly the two corrupt FILES (the `n_quarantined` column the
    * oracle pins to 2) while decoding every record of every clean
    * shard — the per-status page counts and byte sums equal the
    * closed-form oracle, so an eaten clean shard drops rows and a
    * half-salvaged corrupt copy DUPLICATES them. Real crawls always
    * contain broken containers; one must cost one quarantine row,
    * never the job. */
  def sourceWarcQuarantine(s: SparkSession, d: String): DataFrame = {
    val dir = LayoutLock.once("warc_crawl_q", d) { out =>
      val recs = Tables.part(s, d)
        .filter(col("p_partkey") <= 100)
        .select(makeWarcRecord(col("p_partkey")).as("r"))
        .select(col("r._1").as("warc_type"), col("r._2").as("target_uri"),
          col("r._3").as("warc_date"), col("r._4").as("record_id"),
          col("r._5").as("content_type"), col("r._6").as("payload"))
        .repartition(2, col("target_uri"))
      graft.sources.Warc.writeWarc(recs, out, gzipPerRecord = true)
      val p = java.nio.file.Paths.get(out)
      java.nio.file.Files.write(p.resolve("bad_version.warc"),
        "this is not a WARC container at all\r\n\r\n".getBytes("UTF-8"))
      val good = new java.io.File(out).listFiles()
        .filter(f => f.getName.startsWith("crawl-") && f.getName.endsWith(".warc.gz"))
        .minBy(_.getName)
      val bytes = java.nio.file.Files.readAllBytes(good.toPath)
      java.nio.file.Files.write(p.resolve("zz_truncated.warc.gz"),
        java.util.Arrays.copyOf(bytes, bytes.length - 10))
    }
    val (data, quarantine) =
      graft.sources.Warc.readWarcWithQuarantine(s, dir)
    data.filter(col("warc_type") === "response")
      .withColumn("h", parseHttp(col("payload")))
      .groupBy(col("h._1").cast("long").as("status"))
      .agg(count(lit(1)).as("n_pages"),
        sum(length(col("h._4"))).cast("long").as("sum_body_chars"))
      .crossJoin(broadcast(quarantine.agg(count(lit(1)).as("n_quarantined"))))
      .orderBy(col("status"))
  }

  /** #188 SCHEMA-EVOLUTION read — the append-only pipeline reality that
    * a column added mid-corpus must not fork the reader: generation 1
    * is written WITHOUT `o_orderpriority`, generation 2 WITH it, and
    * one `mergeSchema` read reconciles the footers (gen-1 rows surface
    * the new column as null). Judged as result-invisibility against the
    * plain table — the oracle derives the same rows from `orders`
    * directly, so any row lost, duplicated, or mis-nulled across the
    * two-footer merge moves the aggregate. At 100 TB this is the
    * standard additive-evolution contract of a parquet data lake (the
    * footer union is per-file metadata work, not a data rewrite). */
  def sourceSchemaEvolution(s: SparkSession, d: String): DataFrame = {
    val dir = LayoutLock.once("orders_evo", d) { out =>
      val o = Tables.orders(s, d)
      o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .write.parquet(out + "/gen1")
      o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority"))
        .write.parquet(out + "/gen2")
    }
    s.read.option("mergeSchema", "true").parquet(dir + "/gen1", dir + "/gen2")
      .groupBy(coalesce(col("o_orderpriority"), lit("MISSING")).as("pr"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("rev"))
      .orderBy(col("pr"))
  }

  /** #195 judged keyed UPSERT (MERGE) — the corrected-batch ingestion
    * shape every pipeline re-run hits: a delta of corrected rows must
    * OVERRIDE the base rows sharing their key, while untouched base
    * rows pass through exactly once. Base = the full orders table;
    * delta = every 7th order re-exported with its price corrected by
    * +100.00. The merge is the scalable two-sided form —
    * `delta ∪ (base ⟕̸ delta)` (left-anti on the key, then union) — so
    * the only data-sized exchange is one hash partition of each side
    * on the key; no window, no global sort, and the anti-join
    * broadcasts whenever the delta is small (the common daily-rerun
    * case — AQE decides from the delta's actual size). Judged as
    * result-invisibility: the oracle recomputes the merged table's
    * aggregate from `orders` directly with the correction inlined as a
    * CASE, so a dropped, duplicated, or un-overridden key moves both
    * `n` and `total`. IngestSpec pins the row-level contract (a
    * corrected key carries ONLY the delta's values). */
  def sourceUpsert(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    val delta = base.filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + lit(100.0))
    upsert(base, delta, "o_orderkey")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("o_orderpriority"))
  }

  /** #200 judged DATA-QUALITY PROFILE — the ingestion gate every
    * pipeline runs before accepting a batch: four declared expectations
    * over orders (key non-null, price in range, status in the allowed
    * domain, priority format) evaluated in ONE aggregate pass over ONE
    * scan however many rules are declared ([[graft.sources.Quality
    * .validateLazy]] — N rule-per-scan passes would be N full reads of
    * a 100 TB table), reshaped to (rule, violations, total) rows by an
    * in-plan unpivot. The oracle recomputes each rule as a conditional
    * sum. The range and domain rules are chosen to FIRE on this data
    * (nonzero violations) so the hash proves counting, not just
    * zero-equality. */
  def sourceQualityProfile(s: SparkSession, d: String): DataFrame = {
    import graft.sources.Quality
    Quality.validateLazy(Tables.orders(s, d), Seq(
        Quality.notNull("o_custkey"),
        Quality.inRange("o_totalprice", 1000.0, 300000.0),
        Quality.isIn("o_orderstatus", Seq("F", "O")),
        Quality.matches("o_orderpriority", "^[1-5]-")))
      .orderBy(col("rule"))
  }

  /** Keyed upsert: rows of `delta` replace same-key rows of `base`;
    * unmatched base rows survive. Assumes `key` is unique per side (the
    * MERGE precondition — a real MERGE errors on a multi-match, and a
    * violated assumption here silently duplicates or drops rows).
    * Anti-join + union: one shuffle per side on the key — at 100 TB
    * with a bucketed base this degenerates to a map-side merge, and a
    * small delta broadcasts.
    *
    * `checkUnique = true` (round-12 advice) enforces the precondition
    * IN-PLAN: each side routes through a per-key count window whose
    * violation raises at execution instead of corrupting the merged
    * table. The guard costs one extra window pass per guarded side
    * (the delta is the cheap, high-value side — corrections batches
    * are where duplicate keys actually arrive); default-off so the
    * bucketed-base fast path stays window-free when the caller has
    * already proven uniqueness upstream (e.g. a PK-enforced source). */
  def upsert(base: DataFrame, delta: DataFrame, key: String,
      checkUnique: Boolean = false): DataFrame = {
    def guarded(df: DataFrame, side: String): DataFrame =
      if (!checkUnique) df
      else uniqueKeyGuard(df, key, s"upsert: duplicate $side key ",
        " violates the MERGE precondition (key unique per side)")
    val d = guarded(delta, "delta")
    d.unionByName(
      guarded(base, "base").join(d.select(col(key)), Seq(key), "left_anti"))
  }

  /** The one per-key-uniqueness guard definition (round-14 review: the
    * upsert, scd2Apply and streaming-dim copies had drifted into three
    * inline rewrites of the same window + raise_error shape): routes
    * `key` through a per-key count window that raises with
    * `msgPrefix<key>msgSuffix` when any key appears twice. One window
    * pass over `df`; run it on the SMALL side. */
  private[graft] def uniqueKeyGuard(df: DataFrame, key: String,
      msgPrefix: String, msgSuffix: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(key))
    df.withColumn(key,
      when(count(lit(1)).over(w) > 1,
        raise_error(concat(
          lit(msgPrefix), col(key).cast("string"), lit(msgSuffix))))
        .otherwise(col(key)).as(key))
  }

  /** SCD-2 (slowly-changing-dimension type 2) batch apply — the OTHER
    * corrected-batch shape next to [[upsert]]'s latest-wins: keep
    * history. `dim` is an SCD-2 table (`key`, attrs…, `effective_from`,
    * `effective_to` nullable, `is_current`); `delta` carries the new
    * attribute rows for a batch stamped `version`. Current dim rows
    * whose key appears in the delta are CLOSED (effective_to = version,
    * is_current = false); every delta row is appended open
    * (effective_from = version, effective_to = null, is_current =
    * true). Versions must be applied in increasing order — the standard
    * warehouse nightly-batch contract — and that precondition is
    * ENFORCED in-plan (the round-12 upsert-advice pattern): closing a
    * current row whose `effective_from` is not strictly below the
    * incoming `version` raises at execution instead of writing an
    * inverted or empty effective range into the history. The guard is
    * one comparison on rows already flowing through the close branch —
    * no extra pass, no action.
    *
    * Scale shape: one equi-join of the dim against the delta's DISTINCT
    * keys (at 100 TB: bucketed dim ⇒ map-side join; small delta ⇒
    * broadcast — exactly [[upsert]]'s trade) plus a union; no window,
    * no global ordering. The full-history window reconstruction (what
    * the oracle does) would re-sort the entire dimension every batch —
    * the incremental close-and-append is the point of SCD-2.
    * `checkUnique` adds the [[upsert]]-style opt-in guard against a
    * delta carrying the same key twice (which would silently append two
    * open rows with identical effective_from). */
  def scd2Apply(dim: DataFrame, delta: DataFrame, key: String,
      version: Long, checkUnique: Boolean = false): DataFrame = {
    // opt-in duplicate-delta-key guard (the upsert checkUnique pattern):
    // a delta carrying the same key twice would append TWO open rows
    // with identical effective_from — silently corrupting the
    // one-current-row-per-key invariant the close branch relies on.
    // Default-off for PK-enforced sources; the window runs on the
    // (small) delta only, never on the dim.
    val delta1 =
      if (!checkUnique) delta
      else uniqueKeyGuard(delta, key, "scd2Apply: duplicate delta key ",
        s" in version $version — SCD-2 takes one row per key per " +
          "batch (two identical effective_from open rows would " +
          "corrupt the one-current-row-per-key invariant)")
    val hits = delta1.select(col(key)).distinct().withColumn("_hit", lit(1))
    val closed = dim.join(hits, Seq(key), "left")
      .withColumn("effective_to",
        when(col("_hit").isNotNull && col("is_current"),
          when(col("effective_from") >= lit(version),
            raise_error(concat(
              lit(s"scd2Apply: version $version is not after the open row's "
                + "effective_from ("), col("effective_from").cast("string"),
              lit(s") for $key "), col(key).cast("string"),
              lit(" — batches must apply in increasing version order")))
              .cast("long"))
            .otherwise(lit(version)))
          .otherwise(col("effective_to")))
      .withColumn("is_current", col("is_current") && col("_hit").isNull)
      .drop("_hit")
    val opened = delta1
      .withColumn("effective_from", lit(version))
      .withColumn("effective_to", lit(null).cast("long"))
      .withColumn("is_current", lit(true))
    closed.unionByName(opened)
  }

  /** Seed an SCD-2 table from a first snapshot: every row open at
    * `version`. */
  def scd2Init(snapshot: DataFrame, version: Long): DataFrame =
    snapshot
      .withColumn("effective_from", lit(version))
      .withColumn("effective_to", lit(null).cast("long"))
      .withColumn("is_current", lit(true))

  /** Point-in-time (time-travel) snapshot of an SCD-2 table: the rows
    * effective AT `version` — `effective_from ≤ v` and not yet closed
    * (`effective_to` null or `> v`). One scan, one filter; at 100 TB
    * with the dim partitioned by is_current/effective range this is a
    * partition-pruned read, which is the entire point of keeping SCD-2
    * history instead of overwrite-in-place. */
  def scd2AsOf(dim: DataFrame, version: Long): DataFrame =
    dim.filter(col("effective_from") <= version &&
        (col("effective_to").isNull || col("effective_to") > version))
      .drop("effective_from", "effective_to", "is_current")

  /** #209 judged SCD-2 POINT-IN-TIME lookup — the read side of
    * [[sourceScd2]]: reconstruct the state AS OF version 2 (after the
    * 7-divisible reclassification, before the 21-divisible escalation)
    * from the incrementally-built history via [[scd2AsOf]], then
    * aggregate per priority with a key-sum membership witness. The
    * oracle recomputes the v2 state DIRECTLY from orders (the v2 rule
    * inlined as a CASE), so a wrong effective range on any row — closed
    * too early, opened too late, v3 leaking backward — moves either the
    * count or the key sum. Time travel is what SCD-2 history is FOR;
    * this judges it end to end. */
  def sourceScd2Asof(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"))
    val delta2 = base.filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_orderpriority", lit("9-RECLASSIFIED"))
    val delta3 = base.filter(col("o_orderkey") % 21 === 0)
      .withColumn("o_orderpriority", lit("0-ESCALATED"))
    val dim = scd2Apply(scd2Apply(scd2Init(base, 1L), delta2, "o_orderkey", 2L),
      delta3, "o_orderkey", 3L)
    scd2AsOf(dim, 2L)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("key_sum"))
      .orderBy(col("o_orderpriority"))
  }

  /** #215 judged SCD-2 PRUNED point-in-time read (round-14) — the
    * read-side scale claim of [[scd2AsOf]]'s docstring, now pinned
    * in-plan instead of asserted in prose: the same three-batch history
    * as [[sourceScd2Asof]] is WRITTEN `partitionBy(effective_to)` (one
    * directory per close version plus the null partition of still-open
    * rows), and the as-of filter's `effective_to IS NULL OR
    * effective_to > v` disjunct references only the partition column,
    * so it prunes at PLANNING time — an as-of read touches the open
    * partition and the partitions closed AFTER v, never the ever-growing
    * mass of history closed at or before v. At 100 TB that is the
    * difference between an as-of lookup scanning this month's closes
    * and rescanning every close since the dimension began.
    * PlanShapeSpec asserts the `PartitionFilters` entry and the pruned
    * partition count; here the layout must be judged INVISIBLE — the
    * oracle recomputes the v2 state directly from orders, so a row
    * lost to (or leaked past) the partition boundary moves the hash. */
  def sourceScd2Pruned(s: SparkSession, d: String): DataFrame = {
    val dir = LayoutLock.once("scd2_dim", d) { out =>
      val base = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"))
      val delta2 = base.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_orderpriority", lit("9-RECLASSIFIED"))
      val delta3 = base.filter(col("o_orderkey") % 21 === 0)
        .withColumn("o_orderpriority", lit("0-ESCALATED"))
      val dim = scd2Apply(scd2Apply(scd2Init(base, 1L), delta2, "o_orderkey", 2L),
        delta3, "o_orderkey", 3L)
      // one file per close-version partition: the partition count is
      // O(versions), tiny — a per-partition repartition keeps the
      // writer from emitting shuffle-partition-many small files
      dim.repartition(col("effective_to"))
        .write.partitionBy("effective_to").parquet(out)
    }
    // partition-value inference types effective_to int — pin long (the
    // in-memory dim's type); the cast stays a partition-only predicate,
    // so pruning still fires through it
    val dim = s.read.parquet(dir)
      .withColumn("effective_to", col("effective_to").cast("long"))
    scd2AsOf(dim, 2L)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("key_sum"))
      .orderBy(col("o_orderpriority"))
  }

  /** #204 judged SCD-2 dimension history (round-13, verdict gap #3):
    * three batches over an orders-derived priority dimension — the v1
    * snapshot, a v2 correction re-prioritizing every 7th order, a v3
    * correction re-re-prioritizing every 21st — applied INCREMENTALLY
    * through [[scd2Apply]]. The oracle reconstructs the identical
    * history non-incrementally: union the three stamped batches and
    * derive effective_to/is_current with a per-key lead() window. The
    * incremental close-and-append must be INVISIBLE against the window
    * reconstruction — the [[sourceUpsert]] invisibility pattern, now
    * with history. Output bounded to o_orderkey ≤ 600 (the history for
    * 21-divisible keys has 3 rows, 7-divisible 2, others 1). */
  def sourceScd2(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"))
    val delta2 = base.filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_orderpriority", lit("9-RECLASSIFIED"))
    val delta3 = base.filter(col("o_orderkey") % 21 === 0)
      .withColumn("o_orderpriority", lit("0-ESCALATED"))
    val dim = scd2Apply(scd2Apply(scd2Init(base, 1L), delta2, "o_orderkey", 2L),
      delta3, "o_orderkey", 3L)
    dim.filter(col("o_orderkey") <= 600)
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("effective_from"), col("effective_to"), col("is_current"))
      .orderBy(col("o_orderkey"), col("effective_from"))
  }

  /** #2 conjunctive predicates (BETWEEN / IN / NOT) — all pushed to the
    * parquet reader as data filters. */
  def filterPredicates(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_quantity").between(10, 20)
        && col("l_returnflag").isin("A", "R")
        && !(col("l_linestatus") === "O"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .select(col("l_orderkey"), col("l_quantity"))

  /** #3 LIKE + IS NOT NULL (StringContains pushdown). */
  def filterLikeNull(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .filter(col("p_type").like("%PROMO%") && col("p_brand").isNotNull)
      .select(col("p_partkey"), col("p_name"))
      .orderBy(col("p_partkey"))

  /** #4 small-dim equi-join: both sides are tiny, Catalyst plans a
    * BroadcastHashJoin with no shuffle at any scale. */
  def joinBroadcast(s: SparkSession, d: String): DataFrame =
    Tables.nation(s, d)
      .join(Tables.region(s, d), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_name"), col("r_name"))
      .orderBy(col("n_name"))

  /** #5 fact-fact join + aggregation. Shuffles both sides on the order key;
    * at cluster scale this is the canonical co-partitioned join (bucketing
    * both tables by orderkey would remove the shuffle entirely). */
  def joinShuffle(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"))
      .agg(round(sum(col("l_extendedprice")), 2).as("rev"))
      .orderBy(col("rev").desc, col("o_orderkey"))
      .limit(20)

  /** #5b the same fact-fact join with the shuffle PREPAID by layout:
    * both sides bucketed+sorted on the order key at write time
    * ([[graft.sources.Layout.saveBucketed]]), so the judged join+agg
    * reads the bucketed scans in place — zero Exchange anywhere in the
    * join or the bucket-key aggregation (asserted in PlanShapeSpec).
    * This is a user's first 100 TB cost lever: a repeated fact-fact
    * join is dominated by its shuffle, and bucketing amortizes that
    * shuffle across every downstream job. The layout must be
    * semantically INVISIBLE, so the oracle is the plain join on the
    * raw tables (the `join_skew_salted` pattern). The write happens
    * once per JVM per sf-dir PATH (the table name carries a hash of
    * the path, so repeat runs inside one Verify/Bench JVM reuse the
    * layout; a fresh JVM rewrites it — data regenerated in place
    * mid-JVM would NOT be picked up, which the driver never does);
    * `hint("merge")` pins the sort-merge form the 100 TB plan takes
    * instead of letting tiny test data broadcast. */
  def joinBucketed(s: SparkSession, d: String): DataFrame = {
    val ot = s"graft_bkt_orders_${LayoutLock.pathTag(d)}"
    val lt = s"graft_bkt_lineitem_${LayoutLock.pathTag(d)}"
    // project to exactly the join/agg columns before the write — the
    // prepaid layout should carry only what downstream reads
    if (!s.catalog.tableExists(ot))
      graft.sources.Layout.saveBucketed(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority")),
        ot, Seq("o_orderkey"), numBuckets = 8)
    if (!s.catalog.tableExists(lt))
      graft.sources.Layout.saveBucketed(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_extendedprice")),
        lt, Seq("l_orderkey"), numBuckets = 8)
    // o_orderpriority is functionally dependent on o_orderkey, so the
    // group-by clusters on the bucket key and rides the layout too
    s.table(ot).hint("merge")
      .join(s.table(lt).hint("merge"), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice")), 2).as("rev"))
      .orderBy(col("rev").desc, col("o_orderkey"))
      .limit(20)
  }

  /** #6 5-table star join (TPC-H Q5 shape): the region filter prunes before
    * the join, dims broadcast, and only customer⋈orders⋈lineitem shuffles. */
  def joinStar5Way(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.nation(s, d), col("c_nationkey") === col("n_nationkey"))
      .join(Tables.region(s, d), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))

  /** #7 left outer join preserving unmatched, with null-skipping count.
    * Eager aggregation: orders collapses to one row per customer BEFORE the
    * join (10× reduction here, arbitrarily more at scale), so the outer join
    * touches |customers| rows per side and the big fact table is never
    * shuffled un-aggregated. Unmatched customers surface as null → count 0,
    * identical to counting o_orderkey over a row-level outer join. */
  def joinLeftOuter(s: SparkSession, d: String): DataFrame = {
    val perCust = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"))
    Tables.customer(s, d)
      .join(perCust, col("c_custkey") === col("o_custkey"), "left_outer")
      .select(col("c_custkey"), coalesce(col("n"), lit(0L)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("c_custkey"))
      .limit(50)
  }

  /** #7b FULL OUTER join: per-nation customer vs supplier counts with
    * deliberately mismatched filters, so BOTH sides contribute orphan
    * rows (left-only nations < 10, right-only ≥ 15). Both inputs are
    * aggregated to one row per key BEFORE the join — the eager-agg shape
    * of [[joinLeftOuter]] — so at 100 TB the outer join moves |keys|
    * rows, not |rows|, per side. Unmatched sides surface as nulls and
    * are normalized by coalesce exactly as the SQL formulation does. */
  def joinFullOuter(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
      .filter(col("c_nationkey") < 15)
      .groupBy(col("c_nationkey").as("ck"))
      .agg(count(lit(1)).as("nc"))
    val sup = Tables.supplier(s, d)
      .filter(col("s_nationkey") >= 10)
      .groupBy(col("s_nationkey").as("sk"))
      .agg(count(lit(1)).as("ns"))
    c.join(sup, col("ck") === col("sk"), "full_outer")
      .select(coalesce(col("ck"), col("sk")).as("k"),
        coalesce(col("nc"), lit(0L)).as("nc"),
        coalesce(col("ns"), lit(0L)).as("ns"))
      .orderBy(col("k"))
  }

  /** #7c RIGHT OUTER join: every part keeps a row even when no heavy
    * (quantity > 45) lineitem references it. Same eager-aggregation shape
    * as [[joinLeftOuter]] — the fact side collapses to one row per part
    * key BEFORE the join, so the outer join moves |parts| + |referenced
    * keys| rows, never |lineitem|. Spark plans right outer as the
    * mirrored left outer; preserved-side misses surface as null → 0. */
  def joinRightOuter(s: SparkSession, d: String): DataFrame = {
    val heavy = Tables.lineitem(s, d)
      .filter(col("l_quantity") > 45)
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n"))
    heavy.join(Tables.part(s, d), col("l_partkey") === col("p_partkey"), "right_outer")
      .select(col("p_partkey"), coalesce(col("n"), lit(0L)).as("n_heavy"))
      .orderBy(col("n_heavy").desc, col("p_partkey"))
      .limit(100)
  }

  /** #8 EXISTS → left semi join (no row multiplication, build side only
    * needs the key column). */
  def joinSemi(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d).filter(col("o_totalprice") > 100000),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  /** #9 NOT EXISTS with extra predicate → left anti join. */
  def joinAnti(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  /** #168 semi-join behind a persisted-shape BLOOM runtime filter — the
    * invisibility trick judged the same way as `join_bucketed` /
    * `llm_dedup_append`: the oracle is the PLAIN semi-join aggregate, and
    * the engine must produce the identical result while routing the fact
    * side through `graft_bloom_sketch`/`graft_bloom_contains`. The filter
    * has no false negatives (nothing is lost) and its false positives are
    * removed by the exact semi-join that follows, so the Bloom stage is
    * semantically invisible — while at 100 TB it is the classic
    * runtime-filter win: the 128 KB filter broadcasts to every scan task
    * and drops ~80% of fact rows BEFORE the join shuffle, the same
    * pre-shuffle reduction the persisted form applies across pipeline
    * runs (build the sketch from yesterday's keeper keys, prefilter
    * today's batch without loading the key table).
    *
    * EAGER-EVALUATION CONTRACT: constructing this DataFrame runs one
    * bounded Spark job (the 1-row sketch aggregate below) — the same
    * plan-time materialization Spark's own InjectRuntimeFilter performs
    * via its scalar subquery, but visible at the API boundary: merely
    * building/explaining the query touches the dim table, and fails if
    * the data path is absent. `agg_pivot_dynamic` shares the contract
    * (its collected domain). Every other registry entry is
    * construction-side-effect-free. */
  def joinBloomPrefilter(s: SparkSession, d: String): DataFrame = {
    val dim = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    // evaluate the 1-row sketch aggregate up front and inject the filter
    // as a LITERAL — exactly what Spark's own InjectRuntimeFilter does
    // (scalar subquery → literal at execution). The previous broadcast
    // cross-join form carried the 128 KB blob INSIDE every joined
    // UnsafeRow, and each probe's getBinary copied it back out —
    // ~75 GB of memcpy across a 600k-row scan, measured 2.9 → 0.8 s
    // here. As a literal, codegen references ONE array for the whole
    // scan and the probe reads K bytes per row. The driver-side
    // materialization is one 128 KB row — the same bounded shape as the
    // IVF centroid collect, and map-side combinable however large the
    // build side is.
    val bf = dim
      .agg(graft.functions.Bloom.bloomSketch(col("o_orderkey")).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    Tables.lineitem(s, d)
      .filter(graft.functions.Bloom.bloomContains(lit(bf), col("l_orderkey")))
      .join(dim, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("long")).as("sum_qty"))
      .orderBy(col("l_returnflag"))
  }

  /** #10 self-join with key equality + time-range theta predicate. The
    * equi-clause (user_id) drives a hash join; the 5-minute range condition
    * is evaluated as a post-join filter — never a cartesian product, and the
    * hash partitioning on user_id is exactly how it parallelizes on a
    * cluster. */
  def joinRangeTheta(s: SparkSession, d: String): DataFrame = {
    // time-BUCKETED band join (the IntervalJoin move): with the window
    // being (a_ts, a_ts + 5 min], the match's 5-min bucket is a's or
    // the next one, so exploding the probe side into those two bucket
    // keys turns the range predicate into an equi-join on
    // (user_id, bucket) with the exact range re-checked inside. On a
    // plain (user_id)-keyed join every probe row scans ALL its user's
    // rows (Σ deg² — ~667M predicate evaluations at sf1, the measured
    // 3× loss to the baseline's IEJoin); bucketing bounds candidates
    // to the ±5-min neighborhood, which is the join's actual output
    // scale, at any corpus size.
    val bucketUs = 300000000L // 5 minutes in µs
    val e = Tables.events(s, d)
    val a = e.select(col("event_id").as("a_id"), col("user_id"),
        unix_micros(col("ts")).as("a_um"))
      .withColumn("bk", explode(array(
        floor(col("a_um") / bucketUs),
        floor(col("a_um") / bucketUs) + 1)))
    val b = e.select(col("event_id").as("b_id"), col("user_id").as("b_uid"),
        unix_micros(col("ts")).as("b_um"))
      .withColumn("bk", floor(col("b_um") / bucketUs))
    a.join(b,
        col("user_id") === col("b_uid")
          && a("bk") === b("bk")
          && col("b_um") > col("a_um")
          && col("b_um") <= col("a_um") + bucketUs
          && col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"))
      .orderBy(col("a_id"), col("b_id"))
      .limit(200)
  }

  /** #11 as-of join: latest event at or before a cutoff, per key. Rather
    * than a per-row lateral sort (the oracle's formulation), reduce events
    * to one row per key with `max_by` (single partial+final aggregate —
    * no join-side sort, no row explosion), then equi-join. At 100 TB the
    * aggregate is map-side combinable and the reduced side is small enough
    * to broadcast. */
  def joinAsof(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .filter(col("o_orderkey") < 500)
      .select(col("o_orderkey"), (col("o_custkey") % 20).as("uid"))
    val latest = Tables.events(s, d)
      .filter(col("ts") <= expr("TIMESTAMP '2024-01-15 00:00:00'"))
      .groupBy(col("user_id"))
      .agg(max_by(col("event_id"), col("ts")).as("event_id"))
    o.join(latest, col("uid") === col("user_id"), "left_outer")
      .select(col("o_orderkey"), col("event_id"))
      .orderBy(col("o_orderkey"))
  }

  /** #11b as-of join, native exec: every purchase event looks up the
    * latest click by the same user at or before the purchase time. Unlike
    * [[joinAsof]]'s fixed cutoff (reducible to one `max_by` aggregate),
    * each left row here carries its OWN cutoff, which is exactly the case
    * the custom sorted-merge operator exists for
    * ([[graft.plans.AsofJoin]]): one hash exchange per side, both sides
    * streamed once per partition in (key, time) order, O(1) buffered
    * state — no per-key row explosion, the shape that survives 100 TB.
    * The click side is pre-reduced to one row per (user_id, ts) so the
    * backward tie rule can never see two candidate rows at the same
    * instant — result is deterministic for the oracle hash at any SF. */
  def joinAsofNative(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
    // repartition on user_id ALONE before the (user_id, ts) dedup
    // aggregate: HashPartitioning(user_id) satisfies the aggregate's
    // ClusteredDistribution(user_id, ts) by the subset rule AND the
    // exec's ClusteredDistribution(user_id), so the right side pays ONE
    // exchange instead of two (agg shuffle + re-cluster). Nothing is
    // lost map-side: (user_id, ts) is near-unique, so the partial
    // aggregate had no duplicates to combine anyway.
    val clicks = e.filter(col("event_type") === "click")
      .repartition(col("user_id"))
      .groupBy(col("user_id"), col("ts").as("c_ts"))
      .agg(max(col("event_id")).as("click_id"))
    graft.plans.AsofJoin(purchases, clicks, Seq("user_id"), "ts", "c_ts")
      .select(col("purchase_id"), purchases("user_id"), col("click_id"))
      .orderBy(col("purchase_id"))
  }

  /** #107 FORWARD as-of through the same native sorted-merge operator
    * ([[graft.plans.AsofJoin]] finds the latest right ≤ probe): running
    * it on NEGATED event times turns "latest at-or-before" into
    * "earliest at-or-after" with zero new operator code — each purchase
    * finds the user's NEXT click (time-to-next-click, the engagement
    * metric). (user_id, ts) is unique, so inclusive and strict
    * semantics coincide. Same one-exchange-per-side merge shape as
    * [[joinAsofNative]]; the gap ships in exact integer µs. */
  def joinAsofForward(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        unix_micros(col("ts")).as("p_um"))
      .withColumn("p_neg", -col("p_um"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("c_um"),
        col("event_id").as("click_id"))
      .withColumn("c_neg", -col("c_um"))
    graft.plans.AsofJoin(purchases, clicks, Seq("user_id"), "p_neg", "c_neg")
      .select(col("purchase_id"), purchases("user_id"), col("click_id"),
        (col("c_um") - col("p_um")).as("wait_us"))
      .orderBy(col("purchase_id"))
  }

  /** #152 as-of join WITH TOLERANCE (pandas `merge_asof(tolerance=…)`
    * semantics): each purchase finds the user's latest click at or
    * before it, but a match staler than 10 minutes is NULLED — the left
    * row survives unmatched. Runs the NATIVE sorted-merge operator with
    * its own tolerance parameter ([[graft.plans.AsofJoin]] checks
    * `lt − matchT ≤ tol` inside the merge, inclusive — the same
    * integer-µs compare the oracle's windowed LATERAL states), so the
    * plan is identical to [[joinAsofNative]]'s one-exchange-per-side
    * merge with one extra register compare. The backward match is
    * unique and lies inside the window iff ANY click does, which is
    * why dropping it ≡ the windowed lookup. Zero float risk. */
  def joinAsofTolerance(s: SparkSession, d: String): DataFrame = {
    val tolUs = 10L * 60 * 1000000
    val e = Tables.events(s, d)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        unix_micros(col("ts")).as("p_um"))
    val clicks = e.filter(col("event_type") === "click")
      .repartition(col("user_id"))
      .groupBy(col("user_id"), unix_micros(col("ts")).as("c_um"))
      .agg(max(col("event_id")).as("click_id"))
    graft.plans.AsofJoin(purchases, clicks, Seq("user_id"), "p_um", "c_um",
        tolerance = Some(tolUs))
      .select(col("purchase_id"), purchases("user_id"), col("click_id"),
        (col("p_um") - col("c_um")).as("gap_us"))
      .orderBy(col("purchase_id"))
  }

  /** #157 NEAREST as-of join (pandas `merge_asof(direction='nearest')`
    * semantics): each purchase matches the click closest in time in
    * EITHER direction — ties go backward, and a purchase with clicks on
    * only one side takes that side. Composed from two passes of the
    * same native sorted-merge operator ([[graft.plans.AsofJoin]]): the
    * backward pass as [[joinAsofNative]], the forward pass on negated
    * times as [[joinAsofForward]], then one integer-µs gap compare
    * picks the winner. Both passes share ONE materialization of the
    * (user_id, ts)-deduplicated click table (checkpointed — the
    * dedup aggregate must not run twice), each is the one-exchange-
    * per-side merge, and the combining join keys on purchase_id (each
    * pass emits exactly one row per purchase). All compares are exact
    * integer µs — zero float risk. */
  def joinAsofNearest(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        unix_micros(col("ts")).as("p_um"))
    val clicks = e.filter(col("event_type") === "click")
      .repartition(col("user_id"))
      .groupBy(col("user_id"), unix_micros(col("ts")).as("c_um"))
      .agg(max(col("event_id")).as("click_id"))
      .localCheckpoint(true)
    val bk = graft.plans.AsofJoin(purchases, clicks,
        Seq("user_id"), "p_um", "c_um")
      .select(col("purchase_id"), purchases("user_id"), col("p_um"),
        col("click_id").as("bk_id"), col("c_um").as("bk_um"))
    val fwP = purchases.withColumn("p_neg", -col("p_um"))
    val fwC = clicks.withColumn("c_neg", -col("c_um"))
    val fw = graft.plans.AsofJoin(fwP, fwC, Seq("user_id"), "p_neg", "c_neg")
      .select(col("purchase_id").as("f_pid"),
        col("click_id").as("fw_id"), col("c_um").as("fw_um"))
    val takeBack = col("bk_id").isNotNull &&
      (col("fw_id").isNull || (col("p_um") - col("bk_um")) <= (col("fw_um") - col("p_um")))
    bk.join(fw, col("purchase_id") === col("f_pid"))
      .select(col("purchase_id"), col("user_id"),
        when(takeBack, col("bk_id")).otherwise(col("fw_id")).as("click_id"),
        when(takeBack, col("p_um") - col("bk_um"))
          .otherwise(col("fw_um") - col("p_um")).as("gap_us"))
      .orderBy(col("purchase_id"))
  }

  /** #12 small cartesian product (explicit crossJoin). */
  def joinCross(s: SparkSession, d: String): DataFrame = {
    val r = Tables.region(s, d)
    r.select(col("r_name").as("r1_name"))
      .crossJoin(r.select(col("r_name").as("r2_name")))
      .orderBy(col("r1_name"), col("r2_name"))
  }

  /** #12b skew-hardened fact-fact join: same RESULT as a plain
    * orders⋈lineitem (judged against the plain-join oracle, which proves
    * the salting is semantically invisible), but the plan splits every hot
    * order key across `saltBuckets` tasks — [[SkewJoin.saltedInnerJoin]]
    * salts the fact side deterministically and replicates the
    * (small-per-key) orders side once per bucket, so one pathological key
    * cannot pin a single task at 100 TB. The aggregate on top stays
    * map-side combinable. */
  def joinSkewSalted(s: SparkSession, d: String): DataFrame =
    SkewJoin.saltedInnerJoin(
        Tables.lineitem(s, d), Tables.orders(s, d),
        leftKey = "l_orderkey", rightKey = "o_orderkey",
        tiebreak = "l_linenumber", saltBuckets = 4)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_extendedprice")), 2).as("rev"))
      .orderBy(col("o_orderpriority"))

  /** #13 TPC-H Q1 pricing summary: multi-measure group-by with date filter.
    * Partial aggregation reduces 600k rows to 6 groups before the exchange. */
  def aggPricingSummary(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= expr("TIMESTAMP '1998-09-02 00:00:00'"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc"),
        round(avg(col("l_quantity")), 6).as("avg_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        round(avg(col("l_discount")), 6).as("avg_disc"),
        count(lit(1)).as("cnt"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** #14 COUNT(DISTINCT) per group — Catalyst expands to the two-phase
    * distinct aggregate automatically. */
  def aggCountDistinct(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("u"))
      .orderBy(col("event_type"))

  /** #156 judged SKETCH distinct count in its EXACT regime: per-supplier
    * distinct order counts via the KMV bottom-k sketch
    * ([[graft.functions.Kmv]], k = 1024). A KMV sketch holding fewer
    * than k hashes IS the distinct set's exact cardinality (the buffer
    * is the sorted distinct hash sample, length = count below k), so
    * the estimate equals the oracle's `count(distinct ...)` wherever
    * per-group cardinality < 1024 — and this suite's ratio is pinned by
    * construction: lineitem/supplier ≈ 600 at EVERY linear sf (both
    * tables scale together), an ~8σ Poisson margin below k. This puts
    * the sketch family's 100 TB shape — per-partition sketch, merge,
    * estimate; history never re-shuffles — under the same hash gate as
    * every exact operator. Beyond the exact regime the estimator
    * degrades to ±3% (k=1024), which is the documented trade; the
    * judged query stays inside the regime on purpose. */
  def aggKmvDistinct(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_suppkey"))
      .agg(graft.functions.Kmv.kmvSketch(col("l_orderkey")).as("_sk"))
      .select(col("l_suppkey"),
        graft.functions.Kmv.kmvEstimate(col("_sk")).as("n_orders"))
      .orderBy(col("l_suppkey"))

  /** #158 judged SKETCH frequency counts in the EXACT regime — the
    * Count-Min sibling of [[aggKmvDistinct]], and the sketch family's
    * second judged member. The query runs CMS's real production shape
    * end to end: one 32 KB sketch PER YEAR of orders (the per-day/
    * per-partition sketch a 100 TB pipeline persists as a binary
    * column), `graft_cms_merge` folds the yearly sketches into one
    * corpus sketch (counter ADD — lossless, so merging per-year
    * sketches ≡ sketching all years at once), and the (status,
    * priority) domain keys probe it without ever rescanning the data.
    * Exactness: a CMS point estimate is min over d=4 hash rows, and it
    * exceeds the true count only if EVERY row has some other data key
    * colliding into the probed cell — with ~10 distinct keys in
    * w=1024 cells under fixed seeds this never happens (deterministic:
    * the same hashes at every sf, and the key domain is sf-invariant
    * by FIXTURES.md), so the estimate IS the exact count and the
    * oracle is a plain GROUP BY. Beyond the exact regime estimates
    * overcount by ≤2N/w with confidence 1−2⁻⁴ — the documented trade;
    * the judged query stays inside the regime on purpose. */
  def aggCmsFreq(s: SparkSession, d: String): DataFrame = {
    val key = concat_ws(":", col("o_orderstatus"), col("o_orderpriority"))
    val o = Tables.orders(s, d)
    val yearly = o.groupBy(year(col("o_orderdate")).as("_y"))
      .agg(graft.functions.CountMin.cmsSketch(key).as("_sk"))
    val merged = yearly.agg(graft.functions.CountMin.cmsMerge(col("_sk")).as("_sk"))
    o.select(col("o_orderstatus").as("st"), col("o_orderpriority").as("pr"))
      .distinct()
      .crossJoin(broadcast(merged))
      .select(col("st"), col("pr"),
        graft.functions.CountMin.cmsEstimate(col("_sk"),
          concat_ws(":", col("st"), col("pr"))).as("n"))
      .orderBy(col("st"), col("pr"))
  }

  /** #178 heavy hitters through the Misra-Gries summary
    * ([[graft.functions.MisraGries]]) in its EXACT regime — the same
    * judged-sketch trick as `agg_cms_freq`/`agg_kmv_distinct`: per-day
    * event sketches (one pass, O(K)-memory partials) merged with the
    * PODS'12 pointwise-add-then-truncate union, probed with the distinct
    * key domain. The event-type domain (5 keys) sits far below K=64, so
    * no truncation fires at ANY stage, the error band is 0 (judged as a
    * column — the witness that the regime holds), and every estimate IS
    * the exact count: the oracle is a plain GROUP BY. Beyond the regime
    * estimates are merge-order-dependent within ±err (property-tested in
    * MisraGriesSpec, unjudged by design). */
  def aggHeavyHitters(s: SparkSession, d: String): DataFrame = {
    import graft.functions.MisraGries
    val e = Tables.events(s, d)
    val daily = e.groupBy(col("ts").cast("date").as("_day"))
      .agg(MisraGries.mgSketch(col("event_type")).as("_sk"))
    val merged = daily.agg(MisraGries.mgMerge(col("_sk")).as("_sk"))
    e.select(col("event_type")).distinct()
      .crossJoin(broadcast(merged))
      .select(col("event_type"),
        MisraGries.mgEstimate(col("_sk"), col("event_type")).as("n"),
        MisraGries.mgError(col("_sk")).as("err_band"))
      .orderBy(col("event_type"))
  }

  /** #196 judged QUANTILE sketch in its EXACT regime — the fourth
    * judged sketch, closing the family (KMV distinct, CMS frequency,
    * Misra-Gries heavy hitters, DDSketch quantiles). The sketch
    * ([[graft.functions.QuantileSketch]], the public DDSketch design,
    * PVLDB 12(12) 2019, α = 1%) is exact here by a two-part argument:
    * (1) integers 1..49 land in DISTINCT γ-buckets (adjacent integers
    * v, v+1 differ by ln(1+1/v)/ln γ ≥ 50/v·(1/1.013) > 1 bucket for
    * v ≤ 49), so the nearest-rank walk stops in the bucket holding
    * exactly the rank-⌈q·n⌉ value; (2) the bucket representative is
    * within α·v ≤ 0.49 < 0.5 of that integer value, so round() recovers
    * it EXACTLY. The judged probe quantiles are the exact-binary
    * fractions {.25, .5, .75} so ⌈q·n⌉ is the same integer under
    * DuckDB's decimal and the JVM's double arithmetic. `exact_regime`
    * is the witness column (values within [1, 49]), the
    * `agg_heavy_hitters` err_band pattern. Outside the regime the
    * estimate degrades to ±1% relative — the documented trade; the
    * sketch's 100 TB value is that the per-group binary column
    * persists and merges losslessly (QuantileSketchSpec pins
    * merged == direct bit-identical). */
  def aggQuantileSketch(s: SparkSession, d: String): DataFrame = {
    import graft.functions.QuantileSketch._
    Tables.lineitem(s, d)
      .filter(col("l_quantity") <= 49)
      .select(col("l_returnflag"), col("l_quantity").as("v"))
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        quantileSketch(col("v")).as("_sk"),
        (max(col("v")) <= 49 && min(col("v")) >= 1).as("exact_regime"))
      .select(col("l_returnflag"), col("n"),
        round(quantileEstimate(col("_sk"), lit(0.25)), 0).cast("long").as("q25"),
        round(quantileEstimate(col("_sk"), lit(0.5)), 0).cast("long").as("q50"),
        round(quantileEstimate(col("_sk"), lit(0.75)), 0).cast("long").as("q75"),
        col("exact_regime"))
      .orderBy(col("l_returnflag"))
  }

  /** #15 FILTER-ed aggregates via conditional expressions (sum/count over
    * `when`), one pass over the data. */
  def aggFiltered(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(
        count(when(col("event_type") === "purchase", lit(1))).as("purchases"),
        round(sum(when(col("event_type") === "purchase", col("value"))), 2).as("spend"))
      .orderBy(col("user_id"))

  /** #16 ROLLUP with coalesced grouping keys. */
  def aggRollup(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("c"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"), col("c"))
      .orderBy(col("rf"), col("ls"))

  /** #17 CUBE over two dimensions. */
  def aggCube(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(round(sum(col("o_totalprice")), 2).as("s"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("st"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("pr"), col("s"))
      .orderBy(col("st"), col("pr"))

  /** #203 grouping introspection (round-13): `grouping()` /
    * `grouping_id()` under the oracle — the explicit subtotal-membership
    * surface the rollup/cube family only read through coalesce
    * sentinels. The bit convention is judged (Spark's grouping_id and
    * DuckDB's GROUPING(a, b) both pack left-to-right MSB-first:
    * (g(rf) << 1) | g(ls)), and grouping() is what distinguishes a real
    * NULL dimension value from a subtotal row — the coalesce sentinel
    * trick cannot. Same one-Expand one-aggregate plan as [[aggRollup]].
    */
  def aggGroupingId(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        grouping_id().cast("long").as("gid"),
        grouping(col("l_returnflag")).cast("long").as("g_rf"),
        grouping(col("l_linestatus")).cast("long").as("g_ls"))
      .select(coalesce(col("l_returnflag"), lit("(all)")).as("rf"),
        coalesce(col("l_linestatus"), lit("(all)")).as("ls"),
        col("n"), col("gid"), col("g_rf"), col("g_ls"))
      .orderBy(col("gid"), col("rf"), col("ls"))

  /** #202 exact DECIMAL money aggregation (round-13, the round-12
    * verdict's top gap): the pricing summary re-run in DECIMAL space —
    * cast prices and discounts to DECIMAL(12,2) at the scan, keep every
    * aggregate EXACT (decimal sums of the price and of the scale-4
    * discounted charge price·(1−disc)), and pin Spark's decimal
    * precision-widening behavior under the oracle (sum(DECIMAL(12,2))
    * widens to DECIMAL(22,2) in Spark and DECIMAL(38,2) in DuckDB — the
    * explicit cast to DECIMAL(18,2)/(20,4) makes the VALUE the judged
    * contract, independent of each engine's internal widening). The
    * HALF_UP rounding probe (sum_charge at 2 dp) sits at a scale where
    * exact .xx50 ties occur. Decimal outputs ship as scale-pinned
    * STRINGS (see [[Scalars.fnDecimal]] — DuckDB's pandas bridge
    * degrades decimals to float64); the average ships as the one exact
    * alternative: a SINGLE IEEE division of the identical exact decimal
    * sum cast to double by the identical count needs no rounding at all.
    * Scale shape: identical to agg_pricing_summary — one partial+final
    * hash aggregate, map-side combinable (decimal sums combine exactly
    * in any order — the whole point of decimal money math at 100 TB,
    * where float sums are summation-order-noisy). */
  def aggDecimalMoney(s: SparkSession, d: String): DataFrame = {
    val price = col("l_extendedprice").cast("decimal(12,2)")
    val disc = col("l_discount").cast("decimal(12,2)")
    val one = lit(new java.math.BigDecimal("1.00"))
    val charge = price * (one - disc) // exact scale-4 decimal
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(price).as("_sp"),
        sum(charge).as("_sc"),
        min(price).cast("string").as("min_price"),
        max(price).cast("string").as("max_price"))
      .select(col("l_returnflag"), col("l_linestatus"), col("n"),
        col("_sp").cast("decimal(18,2)").cast("string").as("sum_price"),
        col("_sc").cast("decimal(20,4)").cast("string").as("sum_charge"),
        round(col("_sc"), 2).cast("decimal(20,2)").cast("string")
          .as("sum_charge_r2"),
        (col("_sp").cast("double") / col("n")).as("avg_price"),
        col("min_price"), col("max_price"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** #18 explicit GROUPING SETS — SQL-native construct, expressed via
    * spark.sql over a registered view (Catalyst expands to a single
    * Expand + aggregate, one scan). */
  def aggGroupingSets(s: SparkSession, d: String): DataFrame = {
    Tables.events(s, d).createOrReplaceTempView("events")
    s.sql("""SELECT coalesce(event_type,'ALL') et,
                    coalesce(CAST(user_id AS STRING),'ALL') uid,
                    count(*) c
             FROM events
             GROUP BY GROUPING SETS ((event_type), (user_id), ())
             ORDER BY 1, 2""")
  }

  /** #19 sample stddev / variance / min / max per group — the core
    * HRV-style statistical feature block. */
  def aggStats(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(
        round(stddev_samp(col("value")), 6).as("sd"),
        round(var_samp(col("value")), 6).as("vr"),
        round(min(col("value")), 2).as("mn"),
        round(max(col("value")), 2).as("mx"))
      .orderBy(col("event_type"))

  /** #19b (added round 9) linear-regression aggregates per group:
    * slope / intercept / R² of value over user_id — the one-pass OLS
    * moment computation (`regr_*` is sums-of-products under the hood,
    * map-side combinable like any moment aggregate), judged against
    * DuckDB's identically-defined `regr_slope/intercept/r2`. */
  def aggRegression(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(
        round(regr_slope(col("value"), col("user_id")), 6).as("slope"),
        round(regr_intercept(col("value"), col("user_id")), 6).as("icept"),
        round(regr_r2(col("value"), col("user_id")), 6).as("r2"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  /** #20 exact interpolated percentiles (Spark `percentile`, not approx —
    * matches quantile_cont semantics). */
  def aggPercentile(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(
        round(expr("percentile(value, 0.5)"), 6).as("med"),
        round(expr("percentile(value, 0.95)"), 6).as("p95"))
      .orderBy(col("event_type"))

  /** #180 DISCRETE percentiles (quantile_disc / percentile_disc
    * semantics: the SMALLEST element whose 1-based rank reaches
    * ceil(q·n) — an actual data element, never an interpolation), which
    * Spark has no built-in for. Computed the scale-right way: collapse
    * to a (group, value) COUNT table first (map-side combinable — the
    * shuffle is bounded by |groups|·|distinct values|, here 3·~50, not
    * by rows), then one cumulative-count window pass per group picks
    * each quartile as the first value whose running count reaches its
    * ceil index. Everything is exact int64 — counts, cent values, and
    * the ceil indices ((n+3) div 4, (n+1) div 2, (3n+3) div 4) — so the
    * judged result carries zero float risk. A high-cardinality value
    * column would bucket before this (the GlobalRank machinery);
    * quantity's bounded domain is exactly the shape the count-table
    * path is optimal for. */
  def aggPercentileDisc(s: SparkSession, d: String): DataFrame = {
    val wCum = Window.partitionBy(col("l_returnflag")).orderBy(col("qc"))
    val wAll = Window.partitionBy(col("l_returnflag"))
    def qAt(idx: Column) = min(when(col("cum") >= idx, col("qc")))
    Tables.lineitem(s, d)
      .select(col("l_returnflag"),
        round(col("l_quantity") * 100).cast("long").as("qc"))
      .groupBy(col("l_returnflag"), col("qc"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .groupBy(col("l_returnflag"))
      .agg(max(col("n")).as("n"),
        qAt(expr("(n + 3) div 4")).as("q1_qc"),
        qAt(expr("(n + 1) div 2")).as("q2_qc"),
        qAt(expr("(3 * n + 3) div 4")).as("q3_qc"))
      .orderBy(col("l_returnflag"))
  }

  /** #186 WEIGHTED median — smallest value whose cumulative weight
    * reaches half the group's total (volume-weighted price median, the
    * inventory/market-data staple) — which neither engine has built in:
    * both state the definition over a cumulative-weight window, the
    * engine on the same scale-right (group, value) count table as
    * [[aggPercentileDisc]] (weights pre-summed map-side; the shuffle is
    * bounded by distinct values, the window by the count table). The
    * 2·cw ≥ tw gate is exact int64 (weights are integral quantities) —
    * no float, no midpoint ambiguity. An unbounded value domain would
    * pre-bucket; price cents are domain-bounded. */
  def aggWeightedMedian(s: SparkSession, d: String): DataFrame = {
    val wCum = Window.partitionBy(col("l_returnflag")).orderBy(col("pc"))
    val wAll = Window.partitionBy(col("l_returnflag"))
    Tables.lineitem(s, d)
      .select(col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long").as("pc"),
        round(col("l_quantity")).cast("long").as("w"))
      .groupBy(col("l_returnflag"), col("pc"))
      .agg(sum(col("w")).as("w"))
      .withColumn("cw", sum(col("w")).over(wCum))
      .withColumn("tw", sum(col("w")).over(wAll))
      .groupBy(col("l_returnflag"))
      .agg(min(col("tw")).as("total_w"),
        min(when(col("cw") * 2 >= col("tw"), col("pc"))).as("wmedian_pc"))
      .orderBy(col("l_returnflag"))
  }

  /** #21 HAVING on the group count (post-aggregation filter). */
  def aggHaving(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") > 5)
      .orderBy(col("c").desc, col("o_custkey"))
      .limit(50)

  /** #21c boolean aggregates per group: `bool_and` / `bool_or` — the
    * data-quality assertion shape ("does EVERY row in this partition
    * satisfy the invariant, does ANY row violate it"), map-side
    * combinable like any algebraic aggregate. */
  def aggBool(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        bool_and(col("l_quantity") > 1.0).as("all_multi_qty"),
        bool_or(col("l_discount") > 0.09).as("any_deep_discount"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** #21d ordered string aggregation (LISTAGG / string_agg): the
    * distinct order statuses per priority as one comma-joined string,
    * ordering pinned WITHIN GROUP so the concatenation is deterministic.
    * The distinct status set per group is tiny and bounded (≤3 values) —
    * the collapse is map-side combinable and the per-group string payload
    * stays O(|distinct statuses|), never O(rows); an unbounded-cardinality
    * LISTAGG would be the wrong tool at 100 TB regardless of engine. */
  def aggStringAgg(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(
        expr("listagg(DISTINCT o_orderstatus, ',') WITHIN GROUP (ORDER BY o_orderstatus)")
          .as("statuses"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))

  /** #30 multi-key mixed-direction sort + limit → TakeOrderedAndProject
    * (per-partition top-k, no global sort materialized). */
  def sortMulti(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .orderBy(col("l_shipdate").desc, col("l_orderkey").asc, col("l_linenumber"))
      .select(col("l_orderkey"), col("l_linenumber"))
      .limit(100)

  /** #31 global top-k. */
  def topkGlobal(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)

  /** #32 UNION (distinct). */
  def setUnion(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(col("c_nationkey").as("k"))
      .union(Tables.supplier(s, d).select(col("s_nationkey").as("k")))
      .distinct()
      .orderBy(col("k"))

  /** #33 UNION ALL (bag semantics), counted. */
  def setUnionAll(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(col("c_nationkey").as("k"))
      .union(Tables.supplier(s, d).select(col("s_nationkey").as("k")))
      .agg(count(lit(1)).as("c"))

  /** #34 INTERSECT (distinct). */
  def setIntersect(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(col("c_nationkey").as("k"))
      .intersect(Tables.supplier(s, d).select(col("s_nationkey").as("k")))
      .orderBy(col("k"))

  /** #35 EXCEPT (distinct). */
  def setExcept(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(col("c_nationkey").as("k"))
      .except(Tables.supplier(s, d).select(col("s_nationkey").as("k")))
      .orderBy(col("k"))

  /** #34b INTERSECT ALL (multiset): each shared nation key appears
    * min(customer-count, supplier-count) times. Catalyst rewrites to a
    * count-and-replicate aggregate join — no row-level distinct pass. */
  def setIntersectAll(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(col("c_nationkey").as("k"))
      .intersectAll(Tables.supplier(s, d).select(col("s_nationkey").as("k")))
      .orderBy(col("k"))

  /** #35b EXCEPT ALL (multiset difference): nation keys with customer
    * multiplicity minus supplier multiplicity. */
  def setExceptAll(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(col("c_nationkey").as("k"))
      .exceptAll(Tables.supplier(s, d).select(col("s_nationkey").as("k")))
      .orderBy(col("k"))

  /** #21b ordered collect: per-customer sorted order-key list, rendered
    * as a joined string (the judged artifact must be scalar — list cells
    * stringify differently across engines). `collect_list` gathers in
    * arbitrary (partition) order, so the in-plan `array_sort` is what
    * makes the result deterministic; the numeric sort happens BEFORE the
    * cast to string (lexicographic "10" < "9" would corrupt it after).
    * Per-group state is the group's own rows only — safe wherever a
    * group fits a task, the same contract as any collect_list. */
  def aggArraySorted(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderkey") < 1000)
      .groupBy(col("o_custkey"))
      .agg(array_join(
        transform(array_sort(collect_list(col("o_orderkey"))), _.cast("string")),
        ",").as("ids"))
      .orderBy(col("o_custkey"))

  /** #56 correlated scalar subquery — written in SQL so Catalyst's
    * decorrelation rewrites it to an aggregate + join (no per-row
    * re-execution, fully parallel). */
  def subqScalarCorr(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("orders")
    s.sql("""SELECT o_orderkey, o_totalprice FROM orders o
             WHERE o_totalprice > (SELECT 2 * avg(o2.o_totalprice)
                                   FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
             ORDER BY o_orderkey LIMIT 100""")
  }

  /** #57 IN-subquery → left semi join after decorrelation. */
  def subqIn(s: SparkSession, d: String): DataFrame = {
    Tables.part(s, d).createOrReplaceTempView("part")
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
    s.sql("""SELECT p_partkey FROM part
             WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity > 45)
             ORDER BY p_partkey LIMIT 200""")
  }

  /** #57b NOT IN subquery — a genuinely different physical operator from
    * #9's NOT EXISTS: NOT IN is null-aware (one null in the subquery
    * annuls EVERY row; a null probe never matches), so Catalyst plans a
    * null-aware anti join rather than a plain left anti. Single-column
    * NOT IN takes Spark's optimized NAAJ path (broadcast build with a
    * one-time null check) instead of the general
    * condition-per-row fallback. */
  def subqNotIn(s: SparkSession, d: String): DataFrame = {
    Tables.part(s, d).createOrReplaceTempView("part")
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
    s.sql("""SELECT p_partkey FROM part
             WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem WHERE l_quantity > 49)
             ORDER BY p_partkey LIMIT 200""")
  }

  /** #185 correlated EXISTS over an AGGREGATED subquery — customers with
    * a high-value urgent-order total. Decorrelation has more to do here
    * than #57's plain IN: the HAVING over a correlated GROUP BY must
    * rewrite to aggregate-then-semi-join (one shuffle on the correlation
    * key, no per-row re-execution), which is exactly what Catalyst's
    * RewriteCorrelatedScalarSubquery/decorrelation framework plans —
    * judged in SQL so that rewrite is what's graded. */
  def subqExistsHaving(s: SparkSession, d: String): DataFrame = {
    Tables.customer(s, d).createOrReplaceTempView("customer")
    Tables.orders(s, d).createOrReplaceTempView("orders")
    s.sql("""SELECT c_custkey, c_mktsegment FROM customer c
             WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                           AND o.o_orderpriority = '1-URGENT'
                           GROUP BY o.o_custkey HAVING sum(o.o_totalprice) > 300000)
             ORDER BY c_custkey LIMIT 200""")
  }

  /** #96 LATERAL correlated table subquery — top-2 lineitems per order,
    * in SQL so Catalyst's lateral-join decorrelation is what's judged:
    * the per-order ORDER BY … LIMIT 2 rewrites to a rank-filter over ONE
    * join (WindowGroupLimit partials before the exchange), not a per-row
    * subquery re-execution — the same distributed shape as
    * win_rank_topk_per_group but arrived at from SQL the way an analyst
    * writes it. DuckDB runs the identical LATERAL text.
    *
    * The probe predicate is stated INSIDE the subquery too
    * (`l_orderkey < 300` ≡ the outer `o_orderkey < 300` through the
    * correlation equality): neither engine's optimizer infers a RANGE
    * constraint through the decorrelated window, so without it the
    * rank runs over the ENTIRE fact table and the probe filter applies
    * after — 6M rows windowed for a 300-order answer at sf1, the exact
    * shape that dies at 100 TB. With it, the filter reaches the parquet
    * scan on both sides (sf1: 7.9 s → 1.1 s best-of-3). */
  def joinLateral(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("orders")
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
    s.sql("""SELECT o.o_orderkey, t.l_linenumber, t.l_extendedprice
             FROM orders o JOIN LATERAL (
               SELECT l_linenumber, l_extendedprice FROM lineitem
               WHERE l_orderkey = o.o_orderkey AND l_orderkey < 300
               ORDER BY l_extendedprice DESC, l_linenumber LIMIT 2) t
             WHERE o.o_orderkey < 300
             ORDER BY o.o_orderkey, t.l_extendedprice DESC, t.l_linenumber""")
  }

  /** #97 higher-moment aggregates per group — skewness and excess
    * kurtosis, computed from explicit power sums (E[x^k] averages →
    * central moments) rather than the built-ins, because the engines'
    * built-ins disagree on DEFINITION (sample-corrected g1/G2 vs
    * population m3/m4), while the moment algebra below is pinned and
    * identical on both sides. Power sums are map-side-combinable — the
    * whole query is one partial+final aggregate, the scale shape of
    * every moment statistic. Quantity ≤ 50 keeps x⁴ ≈ 6e6: far from
    * double trouble. */
  def aggMoments(s: SparkSession, d: String): DataFrame = {
    val x = col("l_quantity")
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), avg(x).as("m1"), avg(x * x).as("m2"),
        avg(x * x * x).as("m3"), avg(x * x * x * x).as("m4"))
      .select(col("l_returnflag"), col("n"),
        round(col("m1"), 4).as("mean_q"), {
          val mu2 = col("m2") - col("m1") * col("m1")
          val mu3 = col("m3") - lit(3.0) * col("m1") * col("m2") +
            lit(2.0) * col("m1") * col("m1") * col("m1")
          val mu4 = col("m4") - lit(4.0) * col("m1") * col("m3") +
            lit(6.0) * col("m1") * col("m1") * col("m2") -
            lit(3.0) * col("m1") * col("m1") * col("m1") * col("m1")
          round(mu3 / pow(mu2, 1.5), 6).as("skew_pop")
        }, {
          val mu2 = col("m2") - col("m1") * col("m1")
          val mu4 = col("m4") - lit(4.0) * col("m1") * col("m3") +
            lit(6.0) * col("m1") * col("m1") * col("m2") -
            lit(3.0) * col("m1") * col("m1") * col("m1") * col("m1")
          round(mu4 / (mu2 * mu2) - lit(3.0), 6).as("kurt_pop")
        })
      .orderBy(col("l_returnflag"))
  }

  /** #103 bitwise aggregates per group (`bit_and` / `bit_or` /
    * `bit_xor`) — the set-digest primitives: AND proves a bit common to
    * EVERY key in the group, OR the union mask, XOR the parity digest
    * (a cheap order-insensitive checksum for reconciliation diffs —
    * identical multisets XOR to the same value on any engine, any
    * partitioning). Exact integer algebra, commutative + associative,
    * so the aggregate is map-side combinable like any sum. */
  def aggBitops(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("bit_and(l_orderkey)").as("band"),
        expr("bit_or(l_orderkey)").as("bor"),
        expr("bit_xor(l_orderkey)").as("bxor"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  /** #98 deterministic hash sample with per-stratum error readout: keep
    * the ~10.2% of lineitems whose md5("<orderkey>:<linenumber>") starts
    * below 0x1a, then compare the sample's per-returnflag mean quantity
    * against the full-data mean. Hash sampling is THE reproducible
    * sampling primitive at 100 TB — any engine, any partitioning, any
    * retry produces the same sample (unlike rand(), which is
    * per-task-nondeterministic under retries), and it pushes down to a
    * plain filter: no shuffle, no sort, sampled and full aggregates both
    * map-side partial. */
  def sampleStratified(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val sampled = li
      .filter(substring(md5(concat(col("l_orderkey").cast("string"), lit(":"),
        col("l_linenumber").cast("string"))), 1, 2) < "1a")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_sample"),
        round(avg(col("l_quantity")), 4).as("avg_sample"))
    val full = li.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_full"),
        round(avg(col("l_quantity")), 4).as("avg_full"))
    sampled.join(full, "l_returnflag")
      .select(col("l_returnflag"), col("n_sample"), col("avg_sample"),
        col("n_full"), col("avg_full"))
      .orderBy(col("l_returnflag"))
  }
}
