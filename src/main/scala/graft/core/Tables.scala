package graft.core

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Table access for the driver-generated test corpus (TESTDATA.md) and for
  * engine-managed curated tables.
  *
  * At 100 TB each logical table is a directory of parquet (or Delta) files,
  * partitioned on its natural partition column; `spark.read.parquet(dir)`
  * gives FileSourceScanExec with partition pruning + predicate pushdown for
  * free. Nothing here collects to the driver.
  */
object Tables {
  /** Load one corpus table, e.g. table(spark, sfDir, "lineitem"). The
    * schema comes from [[schemaOf]], so building the frame runs no job. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    normalizeEventTs(parquet(spark, s"$sfDir/$name.parquet"))

  /** `spark.read.parquet(path)` with the schema from [[schemaOf]]: the
    * same frame, built without a schema-inference job. On a partitioned
    * directory Spark still discovers the partition columns, and infers
    * their types, from the `key=value` paths on the driver. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schemaOf(spark, path)).parquet(path)

  /** The data schema `spark.read.parquet(path).schema` infers for a
    * parquet file or directory, flat or partitioned (every field
    * nullable, as the relation reports it), read on the driver instead of
    * in a job. Partition columns are not part of it.
    *
    * Spark's inference touches ONE footer — `_common_metadata`, else
    * `_metadata`, else the first data file, each by full path across all
    * partition directories — but reads it in a one-task distributed job,
    * which dominated a short query's frame construction. This lists the
    * same files with the file index's hidden-path rule, reads that footer
    * here and converts it with Spark's own converter under the session's
    * SQL conf, so the row-metadata schema key, `nanosAsLong`,
    * `binaryAsString`, INT96 and `inferTimestampNTZ` apply exactly as in
    * inference. The footer is read on every call and never cached: a
    * rewritten file is always seen. Only `key=value` subdirectories are
    * descended, as partition discovery does. */
  def schemaOf(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val qualified = p.makeQualified(fs.getUri, fs.getWorkingDirectory)
    val root =
      try fs.getFileStatus(qualified)
      catch { case _: FileNotFoundException =>
        throw new AnalysisException("PATH_NOT_FOUND",
          Map("path" -> qualified.toString)) }
    val summaries = Seq(PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE)
    // the file index's hidden-path rule (Spark's shouldFilterOutPathName)
    def visible(n: String) =
      !((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
        n.endsWith("._COPYING_")) || summaries.exists(n.startsWith)
    def leavesOf(dir: Path): Seq[FileStatus] =
      fs.listStatus(dir).toSeq.filter(s => visible(s.getPath.getName)).flatMap { s =>
        if (!s.isDirectory) Seq(s)
        else if (s.getPath.getName.contains("=")) leavesOf(s.getPath)
        else Seq.empty
      }
    val leaves = (if (root.isFile) Seq(root) else leavesOf(qualified))
      .sortBy(_.getPath.toString)
    val data = leaves.filterNot(s => summaries.contains(s.getPath.getName))
    val file = (summaries.flatMap(n => leaves.find(_.getPath.getName == n)) ++ data)
      .headOption.getOrElse(throw new AnalysisException("UNABLE_TO_INFER_SCHEMA",
        Map("format" -> "Parquet")))
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf),
      HadoopReadOptions.builder(conf).withMetadataFilter(SKIP_ROW_GROUPS).build())
    val footer = try reader.getFooter finally reader.close()
    nullable(ParquetFileFormat.readSchemaFromFooter(
      new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
      .asInstanceOf[StructType]
  }

  /** Whether two schemas have the same fields, types and metadata when
    * nullability is ignored: a frame of one writes files whose footer
    * [[schemaOf]] reads as the other. */
  def sameShape(a: StructType, b: StructType): Boolean = nullable(a) == nullable(b)

  /** A file relation reports every field, at every depth, as nullable
    * (Spark's own `asNullable` is internal). */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** Engine contract for the events stream: `ts` is an epoch-NANOS long.
    *
    * The corpus has shipped `ts` both as parquet TIMESTAMP(NANOS) — which
    * Spark reads as a long under `nanosAsLong` (it has no nanos type) —
    * and as TIMESTAMP(MICROS), which reads as TIMESTAMP_NTZ. Normalizing
    * at the read edge keeps every downstream `ts div 1000` / window /
    * as-of plan (and its DuckDB oracle, which reads the same file as a
    * native timestamp and replays via `epoch_us`/`epoch_ns`) identical
    * across corpus drops. µs→ns is exact integer arithmetic; sessions pin
    * UTC, so the NTZ→instant cast moves no wall-clock. A projection only —
    * pushdown and pruning on the other columns are unaffected. */
  def normalizeEventTs(df: DataFrame): DataFrame =
    if (!df.columns.contains("ts")) df
    else df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => df
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.unix_micros(
            org.apache.spark.sql.functions.col("ts").cast("timestamp")) * 1000L)
      case _: org.apache.spark.sql.types.TimestampType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.unix_micros(
            org.apache.spark.sql.functions.col("ts")) * 1000L)
      case t => throw new IllegalArgumentException(
        s"events.ts must be long or timestamp, got $t")
    }

  /** S7 physical-layout fidelity: the reference's CTAS
    * `DISTRIBUTE HASH(keys) INTO n` + clustered index
    * (CreateAndInitializeCommit.usql:49-90 — 200 buckets for Commit/Org/
    * Team, 60 for the Event family, 20 default) maps to Spark bucketing:
    * `bucketBy(n, keys) [+ sortBy]` into the session catalog. Two tables
    * bucketed identically on their join key then join with NO shuffle on
    * either side (and sorted buckets skip the sort in a sort-merge join)
    * — at 100 TB this is the difference between an O(table) exchange per
    * daily merge and none. */
  def saveBucketed(df: DataFrame, tableName: String, buckets: Int,
      keys: Seq[String], sortKeys: Seq[String] = Nil): Unit = {
    require(keys.nonEmpty, "bucketing needs at least one key")
    val w = df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, keys.head, keys.tail: _*)
    val ws = if (sortKeys.nonEmpty) w.sortBy(sortKeys.head, sortKeys.tail: _*)
    else w
    ws.saveAsTable(tableName)
  }

  /** Schema-evolution read: a long-lived curated table accumulates files
    * written under successive schema versions (a column added mid-year);
    * `mergeSchema` unions the parquet footers so old files surface the
    * new columns as nulls — the read-side half of additive evolution.
    * Footer merging touches metadata only (one footer per file, not
    * row data), so cost scales with file count; at very large file
    * counts pin a summary schema instead. Renames/retypes are NOT
    * evolution — they need a rewrite ([[graft.core.Layout.compact]]). */
  def readEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** Register every curated table under `curatedDir` as a temp view, so
    * the warehouse is queryable as plain SQL — the surface the
    * reference's U-SQL users actually write:
    *
    * {{{
    *   Tables.registerCurated(spark, curatedDir)
    *   spark.sql("SELECT r.name, count(*) FROM commit c JOIN repo r ...")
    * }}}
    *
    * Views are lazy plans over the parquet directories (partition pruning
    * and pushdown intact); re-registering after a daily run picks up the
    * overwritten tables. Returns the registered names. */
  def registerCurated(spark: SparkSession, curatedDir: String): Seq[String] = {
    val dir = new org.apache.hadoop.fs.Path(curatedDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return Seq.empty
    val tables = fs.listStatus(dir).toSeq
      .filter(s => s.isDirectory && !s.getPath.getName.startsWith("."))
      .map(_.getPath.getName).sorted
    tables.foreach { t =>
      parquet(spark, s"$curatedDir/$t").createOrReplaceTempView(t)
    }
    tables
  }

  /** Register the driver test corpus as temp views (documents, lineitem,
    * …) for SQL-first exploration. */
  def registerTestTables(spark: SparkSession, sfDir: String): Seq[String] = {
    val dir = new org.apache.hadoop.fs.Path(sfDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return Seq.empty
    val tables = fs.listStatus(dir).toSeq
      .map(_.getPath.getName).filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).sorted
    tables.foreach { t =>
      table(spark, sfDir, t).createOrReplaceTempView(t)
    }
    tables
  }
}
