package graft

import java.nio.file.Files

import org.apache.spark.sql.types._

import graft.sources.Ingest

class IngestSpec extends SparkSpecBase {

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("score", DoubleType)))

  test("csv ingestion quarantines malformed rows instead of failing") {
    val dir = Files.createTempDirectory("graft_csv").toFile
    val f = new java.io.File(dir, "in.csv")
    Files.writeString(f.toPath,
      "id,name,score\n1,alice,1.5\n2,bob,2.5\nnot_a_long,carol,oops\n3,dee,3.5\n")
    val df = Ingest.readCsv(spark, f.getAbsolutePath, schema)
    val (_, bad) = Ingest.partitionValid(df)
    val (total, valid, quarantined) = Ingest.counts(df)
    assert(total == 4 && valid == 3 && quarantined == 1)
    // quarantine side consumed as full rows (raw-scan corrupt-column rule)
    val badRows = bad.collect()
    assert(badRows.length == 1)
    assert(badRows.head.getAs[String](Ingest.CorruptCol).startsWith("not_a_long"))
  }

  test("json ingestion enforces the declared schema and quarantines garbage") {
    val dir = Files.createTempDirectory("graft_json").toFile
    val f = new java.io.File(dir, "in.json")
    Files.writeString(f.toPath,
      """{"id": 1, "name": "alice", "score": 1.5}
        |this is not json
        |{"id": 2, "name": "bob", "score": 2.5}
        |""".stripMargin)
    val df = Ingest.readJson(spark, f.getAbsolutePath, schema)
    val (total, valid, quarantined) = Ingest.counts(df)
    assert(total == 3 && valid == 2 && quarantined == 1)
  }

  test("upsert: a correction batch overwrites matching keys, leaves the rest") {
    import spark.implicits._
    val base = Seq((1L, "orig", 10.0), (2L, "orig", 20.0), (3L, "orig", 30.0))
      .toDF("k", "tag", "price")
    val delta = Seq((2L, "corrected", 99.0)).toDF("k", "tag", "price")
    val merged = graft.operators.Relational.upsert(base, delta, "k")
      .orderBy("k").collect()
    assert(merged.length == 3, "no key lost, none duplicated")
    assert(merged.map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq ==
      Seq((1L, "orig", 10.0), (2L, "corrected", 99.0), (3L, "orig", 30.0)),
      "the corrected key must carry ONLY the delta's values")
    // delta with a NEW key: plain insert
    val ins = graft.operators.Relational.upsert(base,
      Seq((9L, "new", 1.0)).toDF("k", "tag", "price"), "k")
    assert(ins.count() == 4)
  }

  test("upsert checkUnique: duplicate keys fail loudly instead of corrupting") {
    import spark.implicits._
    val base = Seq((1L, "orig", 10.0), (2L, "orig", 20.0))
      .toDF("k", "tag", "price")
    val dupDelta = Seq((2L, "first", 1.0), (2L, "second", 2.0))
      .toDF("k", "tag", "price")
    // default-off keeps the historical silent-MERGE behavior
    assert(graft.operators.Relational.upsert(base, dupDelta, "k").count() == 3)
    // opted in: a duplicate DELTA key raises at execution
    val ed = intercept[Exception] {
      graft.operators.Relational
        .upsert(base, dupDelta, "k", checkUnique = true).collect()
    }
    assert((Option(ed.getMessage).getOrElse("") +
      Option(ed.getCause).flatMap(c => Option(c.getMessage)).getOrElse(""))
      .contains("duplicate delta key"))
    // ... and a duplicate BASE key (all silently replaced by one delta
    // row in the unchecked form) raises too
    val dupBase = Seq((1L, "a", 1.0), (1L, "b", 2.0)).toDF("k", "tag", "price")
    val eb = intercept[Exception] {
      graft.operators.Relational.upsert(dupBase,
        Seq((9L, "new", 1.0)).toDF("k", "tag", "price"),
        "k", checkUnique = true).collect()
    }
    assert((Option(eb.getMessage).getOrElse("") +
      Option(eb.getCause).flatMap(c => Option(c.getMessage)).getOrElse(""))
      .contains("duplicate base key"))
    // clean inputs pass the guard unchanged
    val ok = graft.operators.Relational.upsert(base,
        Seq((2L, "corrected", 99.0)).toDF("k", "tag", "price"),
        "k", checkUnique = true)
      .orderBy("k").collect()
    assert(ok.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "orig"), (2L, "corrected")))
  }

  test("partitioned parquet sink round-trips with partition pruning available") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_sink").toFile.getAbsolutePath + "/out"
    val df = Seq((1L, "2024-01-01", 1.0), (2L, "2024-01-02", 2.0)).toDF("id", "day", "v")
    Ingest.writePartitioned(df, dir, Seq("day"))
    val back = spark.read.parquet(dir)
    assert(back.count() == 2)
    assert(back.filter($"day" === "2024-01-01").count() == 1)
    // partition directories exist on disk (physical layout for pruning)
    assert(new java.io.File(dir, "day=2024-01-01").exists())
    // and pruning actually HAPPENS: the filtered scan lists the day
    // predicate under PartitionFilters (directory-level skip, the thing
    // that makes a date filter read 1/1000th of a 100 TB table)
    val plan = back.filter($"day" === "2024-01-01")
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*day[^\\]]*2024-01-01".r
        .findFirstIn(plan).nonEmpty,
      s"day filter must prune partitions at the scan:\n$plan")
  }

  test("ORC source/sink round-trips with partition layout and pushdown") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_orc").toFile.getAbsolutePath + "/out"
    val df = Seq((1L, "2024-01-01", 1.0), (2L, "2024-01-02", 2.0)).toDF("id", "day", "v")
    Ingest.writeOrcPartitioned(df, dir, Seq("day"))
    val back = spark.read.orc(dir)
    assert(back.count() == 2)
    assert(back.filter($"day" === "2024-01-02").select($"v").collect().map(_.getDouble(0)).toSeq == Seq(2.0))
    assert(new java.io.File(dir, "day=2024-01-01").exists())
    // filters reach the ORC scan (same pushdown surface as parquet):
    // the pushed-filter list itself must name the column, not be empty
    val plan = back.filter($"id" === 2L).queryExecution.executedPlan.toString
    assert("PushedFilters: \\[[^\\]]*id".r.findFirstIn(plan).isDefined, plan)
  }

  test("media directory ingestion sniffs formats by magic bytes, not extension") {
    import spark.implicits._
    import graft.multimodal.{Jpeg, Mp4, Multimodal}
    val dir = Files.createTempDirectory("graft_media").toFile.getAbsolutePath
    def put(name: String, bytes: Array[Byte]): Unit =
      Files.write(java.nio.file.Paths.get(dir, name), bytes)
    // every file carries a LYING extension — only the magic may be trusted
    put("a.dat", Multimodal.encodeWavPcm16(Array.fill[Short](64)(1000), 8000))
    put("b.wav", Multimodal.encodeBmp24(4, 4, (_, _) => (10, 20, 30)))
    put("c.bmp", Jpeg.encodeJpeg(Array.fill[Byte](8 * 8 * 3)(100.toByte), 8, 8))
    put("d.jpg", Mp4.encodeMp4Minimal(64, 48, 1000, 10))
    put("e.mp4", Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13))
    val rows = Ingest.readMediaDirectory(spark, dir).collect()
      .map(r => new java.io.File(r.getAs[String]("path")).getName ->
        (r.getAs[String]("format"), r.getAs[String]("kind"))).toMap
    assert(rows("a.dat") == ("wav", "audio"))
    assert(rows("b.wav") == ("bmp", "image"))
    assert(rows("c.bmp") == ("jpeg", "image"))
    assert(rows("d.jpg") == ("mp4", "video"))
    assert(rows("e.mp4") == ("bin", "binary"))
    // ids are deterministic path hashes; payloads survive byte-exact
    val again = Ingest.readMediaDirectory(spark, dir).collect()
      .map(r => r.getAs[String]("path") -> r.getAs[Long]("media_id")).toMap
    Ingest.readMediaDirectory(spark, dir).collect().foreach { r =>
      assert(again(r.getAs[String]("path")) == r.getAs[Long]("media_id")) }
    val wav = Ingest.readMediaDirectory(spark, dir, glob = "a.dat").collect()
    assert(wav.length == 1)
    assert(Multimodal.wavSamples(wav.head.getAs[Array[Byte]]("media")).toSeq ==
      Seq.fill(64)(1000L))
    // the size guard filters oversize payloads instead of reading them
    assert(Ingest.readMediaDirectory(spark, dir, maxBytes = 16).collect()
      .map(r => new java.io.File(r.getAs[String]("path")).getName).toSet == Set("e.mp4"))
    // length reaches the binaryFile scan as a data filter (content of a
    // non-matching file is never materialized)
    val capPlan = Ingest.readMediaDirectory(spark, dir, maxBytes = 16)
      .queryExecution.executedPlan.toString
    assert("PushedFilters: \\[[^\\]]*length".r.findFirstIn(capPlan).isDefined, capPlan)
    // the advertised hand-off actually typechecks: rows bind to MediaRow
    // (extra path/n_bytes columns are dropped by the by-name encoder)
    val asRows = Ingest.readMediaDirectory(spark, dir)
      .as[Multimodal.MediaRow].collect()
    assert(asRows.length == 5 && asRows.forall(_.width == 0))
  }
}
