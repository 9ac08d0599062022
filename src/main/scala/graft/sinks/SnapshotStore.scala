package graft.sinks

import java.io.FileNotFoundException

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache,
  HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetReadSupport}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructType}

/** K3/K6 — the storage model replacing Dolt-versioned tables and Postgres
  * maintenance:
  *
  *  - tables persist as parquet partitioned by their date column (K3's
  *    "version per date" becomes a partition per date — time travel is a
  *    partition filter); [[write]] is a static-mode overwrite, so each
  *    write replaces the whole table at its path, untouched dates included;
  *  - K6's `vacuum full` / `reindex` becomes [[compact]]: rewrite a table's
  *    files at a target partition count (small-file compaction after many
  *    incremental appends). Postgres-side index maintenance has no Spark
  *    analogue — data files ARE the access path.
  */
object SnapshotStore {

  /** Write a table snapshot partitioned by `partitionCol` — the layout that
    * gives every per-date reader partition pruning for free. */
  def write(df: DataFrame, path: String,
            partitionCol: String = "date"): Unit =
    df.write.mode("overwrite").options(LocalFs.writeOptions)
      .partitionBy(partitionCol).parquet(path)

  /** Open the table version at `path`: the relation `spark.read.parquet`
    * builds, with the same partition inference, but without its Spark jobs.
    * Spark lists a directory with more than 32 subdirectories in a
    * distributed job (one task per `date=` directory) and reads the schema
    * in a one-task footer job; here both happen on the driver, with the
    * path's own FileSystem and Spark's hidden-file rule (`_SUCCESS`, `.crc`,
    * `_temporary/`). The listing lives only in this call's index. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(path).getFileSystem(conf)
    val root = fs.makeQualified(new Path(path))
    val top = try fs.getFileStatus(root) catch {
      case _: FileNotFoundException =>
        throw new AnalysisException("PATH_NOT_FOUND", Map("path" -> root.toString))
    }
    val files = leafFiles(fs, top).toArray
    val first = files.headOption.getOrElse(throw new AnalysisException(
      "UNABLE_TO_INFER_SCHEMA", Map("format" -> "Parquet")))
    val listed = new FileStatusCache { // a refresh of the index lists again
      private var kept = true
      override def getLeafFiles(p: Path) = if (kept && p == root) Some(files) else None
      def putLeafFiles(p: Path, f: Array[FileStatus]): Unit = ()
      def invalidateAll(): Unit = kept = false
    }
    val index = new InMemoryFileIndex(spark, Seq(root), Map.empty, None, listed)
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      footerSchema(first, conf), None, new ParquetFileFormat, Map.empty)(spark))
  }

  private def leafFiles(fs: FileSystem, s: FileStatus): Seq[FileStatus] =
    if (!s.isDirectory) Seq(s)
    else fs.listStatus(s.getPath).toSeq
      .filterNot(c => hidden(c.getPath.getName)).flatMap(leafFiles(fs, _))

  /** Spark's hidden-file rule (`HadoopFSUtils.shouldFilterOutPathName`,
    * private to Spark): skip `_SUCCESS`, `.crc` sidecars, `_temporary/` and
    * in-flight `._COPYING_` files; keep `k=v` directories and the parquet
    * summary files. */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !name.startsWith("_common_metadata") && !name.startsWith("_metadata")

  /** The schema Spark's writer stores in every footer, nullable as
    * `DataSource` makes it. */
  private def footerSchema(f: FileStatus, conf: Configuration): StructType = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
    try DataType.fromJson(reader.getFooter.getFileMetaData.getKeyValueMetaData
      .get(ParquetReadSupport.SPARK_METADATA_KEY)).asInstanceOf[StructType].toNullable
    finally reader.close()
  }

  /** Bucketed variant for co-located joins: two tables bucketed+sorted the
    * same way on the join key sort-merge-join with NO exchange on either
    * side — at 100 TB this removes the dominant shuffle from every
    * fact-to-fact join on the PK prefix (e.g. act_symbol). Bucket metadata
    * lives in the session catalog, so this writes a managed table rather
    * than a bare path. */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                    numBuckets: Int): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(table)

  /** K6 — compaction rewrite: coalesce the accumulated small files of each
    * date partition to at most `filesPerPartition`.
    *
    * Shuffle key is (date, salt) with salt < filesPerPartition, so a date's
    * rows land in at most that many tasks (→ files) while the job itself
    * still parallelizes across dates × salt — a plain
    * `repartition(n, date)` would funnel the whole table through n tasks.
    * The swap is rename-old → rename-new → drop-old, so a crash leaves
    * either the old or the new directory intact, never neither. */
  def compact(spark: SparkSession, path: String, partitionCol: String = "date",
              filesPerPartition: Int = 1): Unit = {
    val dst = new Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new Path(path.stripSuffix("/") + ".compact.old")
    // self-heal a crash between the two renames of a previous run: the data
    // is intact in .compact.old but nothing sits at the read path
    if (!fs.exists(dst) && fs.exists(old)) fs.rename(old, dst)
    val df = read(spark, path)
    val tmp = path.stripSuffix("/") + ".compact.tmp"
    df.repartition(col(partitionCol),
      graft.operators.SkewOps.rowSalt(filesPerPartition))
      .write.mode("overwrite").options(LocalFs.writeOptions)
      .partitionBy(partitionCol).parquet(tmp)
    fs.delete(old, true)
    if (!fs.rename(dst, old))
      throw new java.io.IOException(s"compact: cannot move $dst aside")
    if (!fs.rename(new Path(tmp), dst)) {
      fs.rename(old, dst) // roll back
      throw new java.io.IOException(s"compact: cannot install $tmp at $dst")
    }
    fs.delete(old, true)
  }

  /** Snapshot CDC diff: classify every PK of two table versions as
    * `added` / `removed` / `changed` (any payload column differing,
    * null-safe), dropping the unchanged majority — what a downstream
    * consumer syncs on instead of re-reading the whole new snapshot.
    * One full-outer hash join keyed on the PK; with both versions
    * bucketed on the PK ([[writeBucketed]]) the join runs exchange-free.
    * Output: pk columns ++ `change` ++ old_/new_ payload columns. */
  def diff(oldDf: DataFrame, newDf: DataFrame, pk: Seq[String],
           payload: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val o = payload.foldLeft(oldDf.select((pk ++ payload).map(col): _*)) {
      (df, c) => df.withColumnRenamed(c, s"old_$c")
    }.withColumn("__in_old", lit(1))
    val n = payload.foldLeft(newDf.select((pk ++ payload).map(col): _*)) {
      (df, c) => df.withColumnRenamed(c, s"new_$c")
    }.withColumn("__in_new", lit(1))
    val differs = payload.map(c =>
      !(col(s"old_$c") <=> col(s"new_$c"))).reduce(_ || _)
    o.join(n, pk, "full_outer")
      .withColumn("change",
        when(col("__in_old").isNull, lit("added"))
          .when(col("__in_new").isNull, lit("removed"))
          .when(differs, lit("changed"))
          .otherwise(lit("unchanged")))
      .filter(col("change") =!= "unchanged")
      .drop("__in_old", "__in_new")
  }
}
