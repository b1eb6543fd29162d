package graft.sources

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge
import org.apache.spark.sql.functions._

/** S1/S2/S3/S5 source/sink surface (main.py:78-87, utils.py:173): load a
  * "dataset" from disk in any Spark-supported format, union splits, tag
  * origins, publish. The reference's HF-hub source becomes a format-
  * dispatched reader; the hub sink becomes a parquet write.
  */
object Sources {

  /** S1 `load_dataset`: format by extension (parquet/json/csv), plus HF
    * `save_to_disk` directories (state.json or `.arrow` shards →
    * [[ArrowDataset.load]], the r17 interop reader). Parquet goes through
    * [[readParquet]], so loading launches no Spark job.
    */
  def load(spark: SparkSession, path: String): DataFrame = {
    val p = path.toLowerCase
    if (p.endsWith(".json") || p.endsWith(".jsonl"))
      spark.read.json(path)
    else if (p.endsWith(".csv"))
      spark.read.option("header", "true").option("inferSchema", "true")
        .csv(path)
    else if (isArrowDatasetDir(spark, path)) ArrowDataset.load(spark, path)
    else readParquet(spark, path)
  }

  /** `spark.read.parquet(path)` without Spark's schema-inference job (one
    * single-task job per call, the fixed cost that dominated a
    * many-entry `datasets:` load). The schema is read on the driver from
    * the footer `ParquetUtils.inferSchema` would pick without
    * `mergeSchema` — `_common_metadata`, then `_metadata`, then the first
    * data file by path — through Spark's own footer conversion, so the
    * Catalyst schema Spark stores in the footer and the session's parquet
    * confs (binaryAsString, int96, timestamp NTZ) yield the inferred
    * schema. Globs, nested or partitioned directories, `mergeSchema` and
    * footers that cannot be read keep Spark's inference (and its errors).
    */
  private def readParquet(spark: SparkSession, path: String): DataFrame = {
    val schema =
      try footerFile(spark, path)
        .flatMap(f => GraftParquetBridge.footerSchema(spark, Seq(f)))
      catch { case NonFatal(_) => None } // Spark's read raises the error
    schema match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  /** The file whose footer Spark's non-merging inference reads, when the
    * path is a plain file or a flat directory of files. */
  private def footerFile(spark: SparkSession,
      path: String): Option[FileStatus] = {
    if (spark.sessionState.conf.isParquetSchemaMergingEnabled ||
        path.exists("{}[]*?\\".contains(_))) return None
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val st = fs.getFileStatus(p)
    if (!st.isDirectory) return Some(st)
    // the listing rules of InMemoryFileIndex (hidden names) and
    // ParquetUtils (summary files first, then data files sorted by path)
    val summaries = Seq("_common_metadata", "_metadata")
    val (dirs, files) = fs.listStatus(p).filterNot { s =>
      val n = s.getPath.getName
      ((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
        n.endsWith("._COPYING_")) && !summaries.exists(n.startsWith)
    }.partition(_.isDirectory)
    if (dirs.nonEmpty) None
    else summaries.flatMap(n => files.find(_.getPath.getName == n))
      .headOption.orElse(files.filterNot(f =>
        summaries.contains(f.getPath.getName))
        .sortBy(_.getPath.toString).headOption)
  }

  private def isArrowDatasetDir(spark: SparkSession,
      path: String): Boolean = {
    // Hadoop FS, not java.io.File: HF dataset dirs on hdfs://, s3a://
    // etc. must dispatch too (ArrowDataset reads them through the same
    // API)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    try fs.getFileStatus(p).isDirectory && {
      val names = fs.listStatus(p).map(_.getPath.getName)
      names.contains("state.json") || names.contains("dataset_dict.json") ||
        names.exists(_.endsWith(".arrow"))
    } catch { case _: java.io.FileNotFoundException => false }
  }

  /** S4 `load_from_disk` (preprocessor.py:72): ingest a directory HF
    * `datasets.save_to_disk` wrote — single-split or DatasetDict layout
    * (`split` selects one split of a dict; default unions in dict
    * order, the reference's concatenate-splits behavior).
    */
  def loadFromDisk(spark: SparkSession, dir: String,
      split: Option[String] = None): DataFrame =
    ArrowDataset.load(spark, dir, Nil, split)

  /** S4 `save_to_disk` (preprocessor.py:68): publish in the HF on-disk
    * layout so `datasets.load_from_disk` can ingest the result.
    * `compression` = none (HF default) / zstd / lz4 — IPC body
    * compression pyarrow reads transparently; ~3× fewer bytes on text.
    */
  def saveToDisk(df: DataFrame, dir: String,
      compression: String = "none"): Unit =
    ArrowDataset.save(df, dir, compression = compression)

  /** S2 `concatenate_datasets`: union N splits by name. */
  def concatenate(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))

  /** S3 `combine_datasets` — main.py:78-87: union datasets, tagging each
    * row with its origin path in `source` when the column is absent.
    * A dict-shaped (DatasetDict) path concatenates its splits in dict
    * order, exactly main.py:82's `concatenate_datasets(dataset.values())`.
    * Each entry stays its own scan in entry order (one multi-path scan
    * would pack files largest-first and reorder the rows keep-first
    * dedup sees); parquet entries take their schema from a footer
    * ([[readParquet]]), so combining launches no Spark job.
    */
  def combine(spark: SparkSession, paths: Seq[String]): DataFrame =
    combineEntries(spark, paths.map(_ -> None))

  /** [[combine]] with an optional per-dataset split selector — the
    * `split: train` key a config's datasets entry may carry
    * (utils.py:173 loads `split="train"`); None keeps the
    * concatenate-all-splits default.
    */
  def combineEntries(spark: SparkSession,
      entries: Seq[(String, Option[String])]): DataFrame =
    concatenate(entries.map { case (p, split) =>
      val df = split match {
        case Some(s) => loadFromDisk(spark, p, Some(s))
        case None => load(spark, p)
      }
      if (df.columns.contains("source")) df
      else df.withColumn("source", lit(p))
    })

  /** S5 `push_to_hub` → publish as parquet (main.py:74).
    *
    * Hub compatibility: the output is a directory of plain snappy
    * parquet files — exactly the layout `datasets.load_dataset("parquet",
    * data_files=...)` (or a hub repo's auto-converted parquet branch)
    * ingests, so a reference user can point HF `datasets` at a published
    * directory and get the same rows back. The chat data model survives
    * the round-trip structurally: `conversation` is
    * `array<struct<content, do_train, role>>` in Spark and
    * `list<struct<...>>` in Arrow — the exact nested shape the reference
    * stores on the hub (HF features: `[{"content": string, "do_train":
    * bool, "role": string}]`). Spark writes INT64/DOUBLE/BOOL/BINARY/UTF8
    * primitives that Arrow maps 1:1; nothing in the schema uses
    * Spark-only logical types. `SourcesSpec` pins the published schema
    * shape so a refactor cannot silently break hub ingestibility.
    */
  def publish(df: DataFrame, path: String,
      compression: String = "snappy"): Unit = {
    require(ParquetCodecs.contains(compression),
      s"parquet compression must be one of ${ParquetCodecs.mkString(", ")}" +
        s", got: $compression")
    df.write.mode(SaveMode.Overwrite)
      .option("compression", compression).parquet(path)
  }

  /** Codecs Spark's parquet writer ships out of the box. zstd trades a
    * little write CPU for ~30% fewer bytes than snappy on text — the
    * archival/publish knob at 100 TB; snappy stays the default (fastest
    * scans, the hub's own parquet branch convention).
    */
  val ParquetCodecs: Set[String] =
    Set("snappy", "zstd", "gzip", "lz4", "uncompressed", "none")

  /** Publish partitioned by a column — downstream scans with a partition
    * predicate prune at the source (the IVF cell-id layout PERF.md
    * describes).
    */
  def publishPartitioned(df: DataFrame, path: String,
      partitionCol: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCol).parquet(path)

  /** Publish bucketed by a join key (requires a table name / catalog):
    * repeated joins or dedups on `bucketCol` then read both sides
    * pre-partitioned — no shuffle at join time.
    */
  def publishBucketed(df: DataFrame, table: String, bucketCol: String,
      buckets: Int): Unit =
    publishBucketedBy(df, table, Seq(bucketCol), buckets)

  /** Multi-key bucketed publish — the layout
    * [[graft.dedup.MinHashDedup.exportBandedStore]]'s docs point at: a
    * banded-signature store bucketed on (band, bsig) joins the
    * increment's banded frame with NO exchange on the store side (the
    * big side — the increment is shuffled or broadcast to match), so
    * the nightly band-join never re-shuffles the corpus-derived state.
    */
  def publishBucketedBy(df: DataFrame, table: String, bucketCols: Seq[String],
      buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Snapshot delta between two corpus builds (incremental-crawl ops:
    * "what did the new CommonCrawl dump change"): one full-outer join on
    * the id, content compared by md5 — (id, status) with status in
    * {added, removed, changed}; unchanged rows (the overwhelming
    * majority between adjacent snapshots) are dropped so the delta, not
    * the corpus, is the output. Downstream: `added ∪ changed` is
    * exactly the increment to feed [[graft.dedup.MinHashDedup
    * .deduplicateAgainst]] / `bloomDedupAgainst`, and `removed` the
    * tombstone list.
    *
    * Scale shape: the join shuffles both snapshots on id once — with
    * both snapshots published through [[publishBucketed]] on the id the
    * join is shuffle-free; the md5 comparison is per-row codegen. No
    * driver state, no collect.
    */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val o = oldSnap.select(col(idCol), md5(coalesce(col(textCol), lit("")))
      .as("__oh__"))
    val n = newSnap.select(col(idCol), md5(coalesce(col(textCol), lit("")))
      .as("__nh__"))
    o.join(n, Seq(idCol), "full_outer")
      .withColumn("status",
        when(col("__oh__").isNull, lit("added"))
          .when(col("__nh__").isNull, lit("removed"))
          .when(col("__oh__") =!= col("__nh__"), lit("changed")))
      .where(col("status").isNotNull)
      .select(col(idCol), col("status"))
  }
}
