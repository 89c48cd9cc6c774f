package org.apache.spark.sql.graftbridge

import java.io.FileNotFoundException

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{ClassicConversions, Dataset, ExpressionUtils}
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Spark 4's `Column` wraps a `ColumnNode`, not an `Expression`, and a
  * `Dataset` is built from a `LogicalPlan` only through `classic` factories;
  * the converters live behind `private[sql]`. This bridge (in an
  * `org.apache.spark.sql` subpackage, the standard extension pattern) is the
  * single place graft touches that boundary, used to expose the custom
  * Catalyst expressions in [[graft.functions]] as user-facing `Column`s, the
  * plan node [[graft.operators.Stage]] as a `DataFrame`, a parquet
  * footer's schema to [[graft.Tables]], and the listener bus's drain to
  * the job-counting tools.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def wrapPlan(df: DataFrame)(node: LogicalPlan => LogicalPlan): DataFrame = {
    val d = ClassicConversions.castToImpl(df)
    Dataset.ofRows(d.sparkSession, node(d.logicalPlan))
  }

  /** Blocks until every event posted so far reached the SparkListeners. */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The schema `spark.read.parquet(path)` infers, read from one footer on
    * the driver instead of Spark's one-task inference job. Like Spark's
    * non-merging inference it reads the first data file of a directory (by
    * path, skipping `_*` and `.*`), prefers the footer's Spark schema and
    * otherwise converts the parquet schema under the session's conf. A
    * missing path fails with Spark's own `PATH_NOT_FOUND`.
    */
  def parquetSchema(spark: SparkSession, path: String): StructType = {
    val state = ClassicConversions.castToImpl(spark).sessionState
    val hadoopConf = state.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(hadoopConf)
    val qualified = fs.makeQualified(root)
    val status =
      try fs.getFileStatus(qualified)
      catch { case _: FileNotFoundException =>
        throw QueryCompilationErrors.dataPathNotExistError(qualified.toString)
      }
    val file =
      if (!status.isDirectory) status
      else fs.listStatus(qualified)
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
          !f.getPath.getName.startsWith("."))
        .sortBy(_.getPath.toString)
        .headOption
        .getOrElse(throw QueryCompilationErrors.dataSchemaNotSpecifiedError("Parquet"))
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, hadoopConf), SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(state.conf))
  }
}
