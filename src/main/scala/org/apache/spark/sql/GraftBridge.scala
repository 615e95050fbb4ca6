package org.apache.spark.sql

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** graft's one seam into Spark internals that are not public API. It
  * lives in the `org.apache.spark.sql` package purely to reach them
  * (standard extension-library technique):
  *
  *  - Spark 4 moved the Column API onto Connect-compatible ColumnNodes,
  *    so `Column.expr` / `new Column(expr)` are gone from the public
  *    surface; the classic bridge (`classic.ExpressionUtils`) is
  *    `private[sql]`. [[expression]] and [[column]] re-export those two
  *    conversions for graft's native Catalyst expressions.
  *  - [[parquetSchema]] reads a parquet table's schema from one footer on
  *    the driver, where `spark.read.parquet(path)` runs a Spark job to do
  *    the same.
  */
object GraftBridge {
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** The schema `spark.read.parquet(path)` gives (Spark's non-merging
    * inference, every field nullable), read on the driver with Spark's own
    * footer converter under the session's current SQL conf: no job runs.
    * The footer is the one inference would pick: `path` itself if it is a
    * file; for a directory, a `_common_metadata`, else a `_metadata`
    * summary file, else the first data file in path order, skipping hidden
    * `_` and `.` entries as Spark's file listing does. Nothing is cached,
    * so a rewritten file or a changed conf is seen on the next call. When
    * `path` does not exist or holds no parquet file, Spark's own inference
    * runs and raises its error.
    */
  def parquetSchema(spark: SparkSession, path: String): StructType = {
    val state = spark.asInstanceOf[classic.SparkSession].sessionState
    val hadoopConf = state.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(hadoopConf)
    def leaves(dir: Path): Seq[FileStatus] =
      fs.listStatus(dir).toSeq
        .filterNot(s => HadoopFSUtils.shouldFilterOutPathName(s.getPath.getName))
        .flatMap(s => if (s.isDirectory) leaves(s.getPath) else Seq(s))
    val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE)
    def pick(files: Seq[FileStatus]): Option[FileStatus] =
      summaries.flatMap(name => files.find(_.getPath.getName == name)).headOption
        .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
    val status = try Some(fs.getFileStatus(root)) catch { case _: java.io.FileNotFoundException => None }
    val footerFile = status.flatMap(s =>
      if (s.isFile) Some(s) else pick(leaves(root).sortBy(_.getPath.toString)))
    footerFile.map { f =>
      val footer = new Footer(f.getPath,
        ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, hadoopConf), SKIP_ROW_GROUPS))
      ParquetFileFormat.readSchemaFromFooter(footer, new ParquetToSparkSchemaConverter(state.conf))
        .asNullable
    }.getOrElse(spark.read.parquet(path).schema)
  }
}
