package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Bridge into `private[parquet]` schema conversion (same convention as
  * [[org.apache.spark.sql.GraftSessionBridge]]).
  *
  * `footerSchema` is the driver-side form of what non-merging parquet
  * schema inference does inside its one-task Spark job: open ONE footer
  * (metadata only, no row groups) with the session's Hadoop conf and
  * convert it with Spark's own `ParquetFileFormat.readSchema` — the Spark
  * schema the writer stored in the footer when present, the parquet
  * schema converted under the session's settings (binary-as-string,
  * INT96, NTZ inference, `nanosAsLong`) otherwise. Made nullable, as every
  * file scan's data schema is, so it equals `spark.read.parquet(file)
  * .schema` (a writer's non-null flags, e.g. on `range` ids, do not leak).
  */
object GraftParquetBridge {
  def footerSchema(spark: SparkSession, file: String): StructType = {
    val conf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.newHadoopConf()
    val path = new Path(file)
    val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromPath(path, conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchema(Seq(new Footer(path, meta)), spark).getOrElse(
      throw new IllegalStateException(s"no schema in the parquet footer of $file"))
      .asNullable
  }
}
