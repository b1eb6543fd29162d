package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.chat.Conversations
import graft.sources.Sources

/** S5 hub-export compatibility (VERDICT r6 #8): `Sources.publish` must
  * emit a parquet layout HF `datasets` can ingest — a directory of plain
  * parquet files whose schema uses only Arrow-1:1 types, with the chat
  * `conversation` column as list<struct<content, do_train, role>>
  * (the exact nested feature shape the reference pushes to the hub,
  * main.py:74). Pinned structurally, no network needed.
  */
class SourcesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
    .getOrCreate()

  test("published chatml parquet keeps the hub-ingestible nested shape") {
    val out = "/tmp/graft_publish_spec"
    val flagship = graft.chat.ChatPipeline
      .flagship(spark, "/root/testdata/sf0.001")
    Sources.publish(flagship, out)

    // directory of plain *.parquet part files (what
    // datasets.load_dataset("parquet", data_files=...) globs)
    val files = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty, "no parquet part files published")

    val re = spark.read.parquet(out)
    // round-trip schema is EXACTLY the chat data model
    assert(re.schema("conversation").dataType ===
      ArrayType(Conversations.MessageType))
    assert(re.schema("source").dataType === StringType)
    // every leaf type maps 1:1 to Arrow (no Spark-only logical types)
    val leafTypes = scala.collection.mutable.Set.empty[DataType]
    def walk(dt: DataType): Unit = dt match {
      case s: StructType => s.fields.foreach(f => walk(f.dataType))
      case a: ArrayType => walk(a.elementType)
      case m: MapType => walk(m.keyType); walk(m.valueType)
      case leaf => leafTypes += leaf
    }
    walk(re.schema)
    val arrowSafe: Set[DataType] = Set(StringType, BooleanType, LongType,
      IntegerType, DoubleType, FloatType, BinaryType, DateType,
      TimestampType)
    assert(leafTypes.forall(arrowSafe.contains),
      s"non-Arrow-1:1 leaf types published: $leafTypes")
    // and the rows themselves survive
    assert(re.count() === flagship.count())
  }

  test("snapshotDiff: added/removed/changed only, unchanged silent") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val old = Seq((1L, "same"), (2L, "before"), (3L, "gone"),
      (4L, null: String)).toDF("doc_id", "text")
    val neu = Seq((1L, "same"), (2L, "after"), (5L, "fresh"),
      (4L, "")).toDF("doc_id", "text")
    val r = graft.sources.Sources.snapshotDiff(old, neu, "doc_id", "text")
      .orderBy(col("doc_id"))
      .collect().map(x => (x.getLong(0), x.getString(1))).toSeq
    // id 4: null and "" hash identically through the coalesce — unchanged
    assert(r == Seq((2L, "changed"), (3L, "removed"), (5L, "added")))
  }

  /** Parquet entries of several shapes under one directory. */
  private val Base = "/tmp/graft_sources_footer"

  private def writeEntries(): Map[String, String] = {
    import spark.implicits._
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(Base))
    val convs = (0 until 12).map(i => (s"text $i", s"orig/$i"))
    // one part file with `source`: the entry is the FILE
    convs.toDF("text", "source").coalesce(1)
      .write.parquet(s"$Base/with_source")
    val single = new java.io.File(s"$Base/with_source").listFiles()
      .map(_.getPath).filter(_.endsWith(".parquet")).head
    // a multi-file directory without `source`
    convs.map(_._1).toDF("text").repartition(3)
      .write.parquet(s"$Base/multi")
    // different columns: unioned with allowMissingColumns
    convs.map(c => (c._1, c._1.length)).toDF("text", "len").coalesce(2)
      .write.parquet(s"$Base/extra_col")
    // Catalyst types and field metadata live in the footer's Spark
    // schema key: decimal, timestamp_ntz, a commented column
    spark.sql(
      """SELECT CAST(id AS DECIMAL(12, 3)) AS amount,
        |  CAST(TIMESTAMP_NTZ'2024-01-02 03:04:05' + make_interval(0, 0, 0,
        |    CAST(id AS INT)) AS TIMESTAMP_NTZ) AS at,
        |  CAST(id AS SHORT) AS small, concat('t', id) AS text
        |FROM range(5)""".stripMargin)
      .withColumn("text", col("text").as("text",
        new MetadataBuilder().putString("comment", "a note").build()))
      .coalesce(1).write.parquet(s"$Base/catalyst")
    Map("single" -> single, "multi" -> s"$Base/multi",
      "extra_col" -> s"$Base/extra_col", "catalyst" -> s"$Base/catalyst")
  }

  /** Same schema and same rows in the same order as Spark's inference. */
  private def assertSameAsInferred(fast: DataFrame, ref: DataFrame): Unit = {
    assert(fast.schema === ref.schema)
    assert(fast.collect().toSeq === ref.collect().toSeq)
  }

  test("Sources.load reads parquet with the footer schema Spark infers") {
    val entries = writeEntries()
    entries.values.foreach { p =>
      assertSameAsInferred(Sources.load(spark, p), spark.read.parquet(p))
    }
    val catalyst = Sources.load(spark, entries("catalyst")).schema
    assert(catalyst("amount").dataType === DecimalType(12, 3))
    assert(catalyst("at").dataType === TimestampNTZType)
    assert(catalyst("text").metadata.getString("comment") === "a note")

    // a footer without Spark's schema key (a non-Spark writer) converts
    // under the session's parquet confs: binaryAsString turns an
    // unannotated BINARY column into a string, as inference does
    val foreign = s"$Base/foreign/part-0.parquet"
    val pqSchema = org.apache.parquet.schema.MessageTypeParser
      .parseMessageType("message m { required binary payload; " +
        "optional int32 n; }")
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(foreign))
      .withType(pqSchema).build()
    val groups =
      new org.apache.parquet.example.data.simple.SimpleGroupFactory(pqSchema)
    (0 until 3).foreach(i =>
      w.write(groups.newGroup().append("payload", s"p$i").append("n", i)))
    w.close()
    val key = "spark.sql.parquet.binaryAsString"
    Seq("false", "true").foreach { v =>
      spark.conf.set(key, v)
      try {
        val fast = Sources.load(spark, s"$Base/foreign")
        assertSameAsInferred(fast, spark.read.parquet(s"$Base/foreign"))
        assert(fast.schema("payload").dataType ===
          (if (v == "true") StringType else BinaryType))
      } finally spark.conf.unset(key)
    }
  }

  test("combineEntries over parquet entries launches no Spark job and " +
      "equals per-entry inferred reads") {
    val entries = writeEntries()
    val paths = Seq("single", "multi", "extra_col", "catalyst").map(entries)
    val (combined, jobs) = org.apache.spark.JobCount.of(spark.sparkContext) {
      Sources.combineEntries(spark, paths.map(_ -> None))
    }
    assert(jobs === 0, s"combineEntries launched $jobs jobs")
    // reference: spark.read.parquet per entry, source tagged when absent,
    // unioned by name in entry order
    val ref = Sources.concatenate(paths.map { p =>
      val df = spark.read.parquet(p)
      if (df.columns.contains("source")) df
      else df.withColumn("source", lit(p))
    })
    assertSameAsInferred(combined, ref)
    // the file entry kept its own source; the others are tagged
    assert(combined.select("source").distinct().count() === 12 + 3)
  }
}
