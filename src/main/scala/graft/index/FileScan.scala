package graft.index

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.paths.SparkPath
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileFormat, FileIndex, FilePartition,
  FileScanRDD, FileStatusWithMetadata, HadoopFsRelation, PartitionDirectory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Reads of a store's parquet files that plan no Catalyst query: the
  * manifest already names every file, so a read maps each file to its
  * partition and opens it, as lnx resolves a blob to its (tablet, range)
  * and opens the reader (SURVEY.md section 3.3). `IndexStore` reads file
  * pairs, term dfs and tombstones through `scan`; `relation` is the one
  * Catalyst relation over a known file list that general SQL reads;
  * `rowCount` reads only the files' footers.
  */
private[index] object FileScan {

  /** Every file's status, read on the driver. A missing file fails
    * here, naming it (a pinned load whose files gc already removed).
    */
  def statuses(spark: SparkSession, paths: Seq[String]): Seq[FileStatus] = {
    if (paths.isEmpty) return Nil
    val fs = new Path(paths.head).getFileSystem(spark.sparkContext.hadoopConfiguration)
    paths.map { p =>
      try fs.getFileStatus(new Path(p))
      catch {
        case e: java.io.FileNotFoundException =>
          throw new IllegalStateException(s"store file $p does not exist (removed by gc " +
            "while a reader was pinned to a version that lists it?)", e)
      }
    }
  }

  /** The rows `files` hold, summed from their parquet footers, read
    * in parallel on the driver: no Spark job. */
  def rowCount(spark: SparkSession, files: Seq[FileStatus]): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    files.asJava.parallelStream().mapToLong { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
      try r.getRecordCount finally r.close()
    }.sum()
  }

  /** Partition p reads exactly `files(p)` (None: an empty partition) as
    * rows of `required`, a subset of the files' `dataSchema`. The rows
    * come from a reused columnar batch: convert or copy one before
    * keeping it.
    */
  def scan(spark: SparkSession, files: Seq[Option[FileStatus]], dataSchema: StructType,
      required: StructType): RDD[InternalRow] = {
    val parts = files.zipWithIndex.map { case (f, p) =>
      FilePartition(p, f.map(s => PartitionedFile(InternalRow.empty, SparkPath.fromFileStatus(s),
        0L, s.getLen, Array.empty[String], s.getModificationTime, s.getLen)).toArray)
    }
    new FileScanRDD(spark, reader(spark, dataSchema, required), parts, required)
  }

  /** A parquet reader function for one scan. Building it broadcasts the
    * Hadoop conf and fixes the session's parquet settings, so it is
    * built per scan, never shared across scans or sessions. */
  private def reader(spark: SparkSession, dataSchema: StructType,
      required: StructType): PartitionedFile => Iterator[InternalRow] =
    new ParquetFileFormat().buildReaderWithPartitionValues(spark, dataSchema, new StructType(),
      required, Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      new Configuration(spark.sparkContext.hadoopConfiguration))

  /** One parquet relation over exactly `files`: no listing, no schema
    * inference, and Catalyst keeps column pruning and filter pushdown. */
  def relation(spark: SparkSession, files: Seq[FileStatus], schema: StructType): DataFrame =
    spark.baseRelationToDataFrame(HadoopFsRelation(new KnownFiles(files), new StructType(),
      schema, None, new ParquetFileFormat, Map.empty)(spark))

  /** A file index over files whose statuses are already known. */
  private final class KnownFiles(files: Seq[FileStatus]) extends FileIndex {
    override def rootPaths: Seq[Path] = files.map(_.getPath)
    override def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      Seq(PartitionDirectory(InternalRow.empty, files.map(f => FileStatusWithMetadata(f))))
    override def inputFiles: Array[String] = files.map(_.getPath.toString).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = files.map(_.getLen).sum
    override def partitionSchema: StructType = new StructType()
  }
}
