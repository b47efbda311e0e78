package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.graft.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions.col
import java.nio.file.Files
import graft.sources.Sources
import graft.sources.Sources.SourceSpec

class SourcesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def sample = Seq((1, "a", 1.5), (2, "b", 2.5), (3, "c", 3.5))
    .toDF("id", "name", "score")

  test("parquet/csv/json round-trip preserves rows (explicit schema for text)") {
    val work = Files.createTempDirectory("graft_src").toString
    val df = sample
    for (fmt <- Seq("parquet", "orc", "csv", "json")) {
      val opts = if (fmt == "csv") Map("header" -> "true") else Map.empty[String, String]
      Sources.write(df, fmt, s"$work/$fmt", "overwrite", opts)
      val back = Sources.read(spark, SourceSpec(fmt, s"$work/$fmt",
        schema = if (fmt == "parquet") None else Some(df.schema), options = opts))
      assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq,
        s"round-trip mismatch for $fmt")
    }
  }

  test("xml source round-trips rows and from_xml parses nested fragments (Spark 4 built-in)") {
    val work = Files.createTempDirectory("graft_xml").toString
    val df = sample
    Sources.write(df, "xml", s"$work/xml", "overwrite", Map("rowTag" -> "rec"))
    val back = Sources.read(spark, SourceSpec("xml", s"$work/xml",
      schema = Some(df.schema), options = Map("rowTag" -> "rec")))
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
    // from_xml: per-row fragment parsing (the streaming/ingest shape
    // where XML arrives as a string column, not files)
    val frag = Seq("<rec><id>9</id><name>frag</name></rec>").toDF("x")
      .selectExpr("from_xml(x, 'id INT, name STRING') AS s")
      .select("s.id", "s.name").collect().head
    assert(frag.getInt(0) == 9 && frag.getString(1) == "frag")
  }

  test("avro round-trips rows and prunes columns on projection read") {
    val work = Files.createTempDirectory("graft_avro").toString
    val df = sample
    Sources.write(df, "avro", s"$work/avro")
    // full-schema read (schema from the avro file header)
    val back = Sources.read(spark, SourceSpec("avro", s"$work/avro"))
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
    // schema-projection read: the evolution-safe consumer shape — a
    // reader that asks for a column subset must not depend on writer
    // column order or pay for unread columns
    import org.apache.spark.sql.types._
    val proj = Sources.read(spark, SourceSpec("avro", s"$work/avro",
      schema = Some(StructType(Seq(
        StructField("score", DoubleType), StructField("id", IntegerType))))))
    assert(proj.columns.toSeq == Seq("score", "id"))
    assert(proj.orderBy("id").collect().map(r => (r.getInt(1), r.getDouble(0))).toSeq ==
      Seq((1, 1.5), (2, 2.5), (3, 3.5)))
    // the BUILTIN from_avro/to_avro stay unusable in this distribution
    // (AVRO_NOT_LOADED: the connector expression classes are absent);
    // the column-level wire tier is graft.functions.AvroWire, below.
  }

  test("AvroWire: real wire format, null fields, corrupt payload → NULL") {
    import graft.functions.AvroWire.{avroSchemaFor, from_avro_wire, to_avro_wire}
    import org.apache.spark.sql.functions.{col, lit, struct, when}
    val spark2 = spark
    import spark2.implicits._
    val df = Seq((1L, Option("alpha"), 1.5), (2L, None, 2.5))
      .toDF("id", "name", "score")
    val payload = struct(col("id"), col("name"), col("score"))
    val schemaJson = avroSchemaFor(df.select(payload.as("r")).schema("r").dataType)
    val wire = df.select(col("id").as("k"), to_avro_wire(payload).as("w"))
    // 1) round-trip identity, INCLUDING the null union branch
    val back = wire.select(from_avro_wire(col("w"), schemaJson).as("r"))
      .select("r.id", "r.name", "r.score").orderBy("id")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getDouble(2)))
    assert(back.toSeq == Seq((1L, Some("alpha"), 1.5), (2L, None, 2.5)))
    // 2) WIRE compatibility: bytes decode with the plain Avro API —
    // proof this is the interchange format, not a private self-inverse
    val bytes = wire.orderBy("k").collect().map(_.getAs[Array[Byte]]("w"))
    val schema = new org.apache.avro.Schema.Parser().parse(schemaJson)
    val reader = new org.apache.avro.generic.GenericDatumReader[Any](schema)
    val rec = reader.read(null, org.apache.avro.io.DecoderFactory.get()
        .binaryDecoder(bytes(0), null))
      .asInstanceOf[org.apache.avro.generic.GenericRecord]
    assert(rec.get("id") == 1L && rec.get("name").toString == "alpha" &&
      rec.get("score") == 1.5)
    // 3) corrupt payload decodes to NULL instead of failing the task
    val corrupt = df.select(when(col("id") === 2L,
        lit(Array[Byte](1, 2, 3))).otherwise(to_avro_wire(payload)).as("w"))
      .select(col("w"), from_avro_wire(col("w"), schemaJson).as("r"))
      .select(col("r.id").as("id"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(corrupt.toSet == Set(Some(1L), None))
  }

  test("AvroWire parse modes: FAILFAST throws on corrupt payload, " +
    "PERMISSIVE nulls it, mode string is locale-safe") {
    import graft.functions.AvroWire.{avroSchemaFor, from_avro_wire, to_avro_wire}
    import org.apache.spark.sql.functions.{col, lit, struct, when}
    val spark2 = spark
    import spark2.implicits._
    val df = Seq((1L, 1.5), (2L, 2.5)).toDF("id", "score")
    val payload = struct(col("id"), col("score"))
    val schemaJson = avroSchemaFor(df.select(payload.as("r")).schema("r").dataType)
    val wire = df.select(col("id").as("k"),
      when(col("id") === 2L, lit(Array[Byte](9, 9, 9)))
        .otherwise(to_avro_wire(payload)).as("w"))
    // PERMISSIVE (explicit mode form): corrupt row → NULL, good row decodes
    val permissive = wire
      .select(from_avro_wire(col("w"), schemaJson, "PERMISSIVE").as("r"))
      .select(col("r.id").as("id"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(permissive.toSet == Set(Some(1L), None))
    // FAILFAST: the same corrupt payload fails the job, and the error
    // chain names the mode so the operator knows which knob to turn
    val e = intercept[Exception] {
      wire.select(from_avro_wire(col("w"), schemaJson, "FAILFAST").as("r"))
        .select("r.id").collect()
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).filter(_ != null).mkString("; ")
    assert(chain.contains("FAILFAST"), chain)
    // good payloads decode identically in FAILFAST
    val ok = df.select(to_avro_wire(payload).as("w"))
      .select(from_avro_wire(col("w"), schemaJson, "failfast").as("r"))
      .select("r.id").orderBy("id").collect().map(_.getLong(0))
    assert(ok.toSeq == Seq(1L, 2L))
    // unknown mode fails loudly at column-build time
    intercept[IllegalArgumentException] {
      from_avro_wire(col("w"), schemaJson, "DROPMALFORMED")
    }
    // mode parse is Locale.ROOT-safe: under a Turkish default locale
    // "failfast" must not uppercase to the dotted-İ form and be rejected
    val saved = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(new java.util.Locale("tr", "TR"))
      from_avro_wire(col("w"), schemaJson, "failfast") // must not throw
    } finally java.util.Locale.setDefault(saved)
  }

  test("parquet schema evolution: mergeSchema unions writer generations") {
    val work = Files.createTempDirectory("graft_evolve").toString
    // generation 1 writes (id, name); generation 2 adds a column — the
    // standard additive-evolution case a long-lived dataset accumulates
    Seq((1, "a"), (2, "b")).toDF("id", "name")
      .write.mode("append").parquet(s"$work/t")
    Seq((3, "c", 9.5)).toDF("id", "name", "score")
      .write.mode("append").parquet(s"$work/t")
    val merged = Sources.read(spark, SourceSpec("parquet", s"$work/t",
      options = Map("mergeSchema" -> "true")))
    assert(merged.columns.sorted.toSeq == Seq("id", "name", "score"))
    val rows = merged.orderBy("id").collect()
      .map(r => (r.getAs[Int]("id"), r.getAs[String]("name"),
        Option(r.getAs[java.lang.Double]("score")))).toSeq
    // old-generation rows surface the new column as NULL
    assert(rows == Seq((1, "a", None), (2, "b", None), (3, "c", Some(9.5))))
    // without mergeSchema the footer-sampled schema may miss the new
    // column — the read still succeeds (that's the default trade, not
    // an error); asserting column COUNT pins that the merged read is
    // the one that widened
    val plain = Sources.read(spark, SourceSpec("parquet", s"$work/t"))
    assert(plain.columns.length <= merged.columns.length)
  }

  test("text source round-trips raw lines; binaryFile reads payload + metadata") {
    val work = Files.createTempDirectory("graft_txt").toString
    // text: one string column named `value`, newline-delimited — the raw
    // ingest shape for unstructured corpora before any parsing
    val lines = Seq("first line", "second line", "third line").toDF("value")
    Sources.write(lines, "text", s"$work/text")
    val back = Sources.read(spark, SourceSpec("text", s"$work/text"))
    assert(back.as[String].collect().sorted.toSeq ==
      Seq("first line", "second line", "third line"))
    // binaryFile: whole-file payloads with (path, length) metadata — the
    // ingest path for the multimodal binary columns (read-only source)
    val payload = Array[Byte](1, 2, 3, 4, 5)
    Files.write(java.nio.file.Paths.get(s"$work/blob.bin"), payload)
    val bin = Sources.read(spark, SourceSpec("binaryFile", s"$work/blob.bin"))
      .select("length", "content").collect().head
    assert(bin.getLong(0) == 5L && bin.getAs[Array[Byte]](1).sameElements(payload))
  }

  test("csv malformed-record policies: PERMISSIVE captures, DROPMALFORMED skips") {
    import org.apache.spark.sql.types._
    val work = Files.createTempDirectory("graft_bad").toString
    Files.write(java.nio.file.Paths.get(s"$work/bad.csv"),
      "1,ok,1.5\nnot_an_int,broken,x\n3,fine,3.5\n".getBytes)
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("name", StringType),
      StructField("score", DoubleType), StructField("_corrupt", StringType)))
    // PERMISSIVE (the default): bad rows survive with nulls and the raw
    // line lands in the corrupt-record column for quarantine pipelines
    val permissive = Sources.read(spark, SourceSpec("csv", s"$work/bad.csv",
      schema = Some(schema),
      options = Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt")))
      .cache() // corrupt-record column requires materialization before filtering
    assert(permissive.count() == 3)
    val bad = permissive.filter(col("_corrupt").isNotNull).collect()
    assert(bad.length == 1 && bad.head.getAs[String]("_corrupt").startsWith("not_an_int"))
    permissive.unpersist()
    // DROPMALFORMED: bad rows silently dropped — lossy, opt-in only
    val dropped = Sources.read(spark, SourceSpec("csv", s"$work/bad.csv",
      schema = Some(StructType(schema.fields.dropRight(1))),
      options = Map("mode" -> "DROPMALFORMED")))
    // collect, not count: a count() prunes every column, so the parser
    // never sees the malformed field and drops nothing
    assert(dropped.collect().length == 2)
  }

  test("jdbc round-trip: batched write then partitioned read (embedded Derby)") {
    System.setProperty("derby.stream.error.file", "/tmp/derby.log")
    val url = "jdbc:derby:memory:srcRt;create=true"
    val df = spark.range(1, 5001)
      .selectExpr("CAST(id AS INT) AS id", "concat('row_', id) AS name",
        "CAST(id AS DOUBLE) / 7 AS score")
    // EtlRunner reports a JDBC job's written rows from task output
    // metrics, as for file sinks. That relies on Spark's
    // `JdbcUtils.savePartition` calling `OutputMetrics.setRecordsWritten`;
    // a Spark upgrade that stops doing so fails here, not as every JDBC
    // ETL job reporting itself unbalanced.
    val sc = spark.sparkContext
    val written = new java.util.concurrent.atomic.LongAdder
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) written.add(e.taskMetrics.outputMetrics.recordsWritten)
    }
    assert(ListenerBusAccess.waitUntilEmpty(sc, 10000))
    sc.addSparkListener(listener)
    try {
      Sources.write(df, "jdbc", "rt", "overwrite", Map("url" -> url))
      assert(ListenerBusAccess.waitUntilEmpty(sc, 10000))
    } finally sc.removeSparkListener(listener)
    assert(written.sum() == 5000)
    val back = Sources.jdbc(spark, url, "rt",
      partitionColumn = Some(("id", 1L, 5000L)), numPartitions = 5)
    assert(back.rdd.getNumPartitions == 5)
    assert(back.count() == 5000)
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
  }
}
