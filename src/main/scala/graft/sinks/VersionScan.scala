package graft.sinks

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge
import org.apache.spark.sql.types.StructType

/** THE way to open committed table files: the scan gets its schema from
  * ONE part file's footer, read on the driver, instead of from Spark's
  * schema-inference job. A plain `spark.read.parquet(files)` starts one
  * Spark job (one task reading one footer) just to learn a schema the
  * footer already holds — job scheduling and driver time paid by every
  * pruned read, merge, delete and compaction (about 35 ms a read on a
  * 4-vCPU machine in local mode).
  *
  * Same decision as that inference, minus the job: non-merging inference
  * also reads exactly one footer and assumes all files agree, and the
  * engine keeps one physical schema per version (the append and keyed-merge
  * schema guards), so any file's footer is the version's schema. The
  * footer read is stateless — nothing is cached, nothing can go stale.
  * `mergeSchema` reads ([[graft.sources.SchemaEvolution]]) and partition-
  * discovery reads stay on Spark's own inference.
  *
  * Standalone by design: no initialization-time reference to any other
  * sinks object, so it is safe to call from parallel set-up threads while
  * those objects initialize. */
object VersionScan {

  /** The Spark schema of one parquet `file`, from its footer. */
  def schema(spark: SparkSession, file: Path): StructType =
    GraftParquetBridge.footerSchema(spark, file.toString)

  /** Scan exactly `files` (non-empty, one schema) under the first one's
    * footer schema. */
  def files(spark: SparkSession, files: Seq[Path]): DataFrame = {
    require(files.nonEmpty, "VersionScan.files needs at least one file")
    spark.read.schema(schema(spark, files.head)).parquet(files.map(_.toString): _*)
  }

  /** Scan a whole directory (one root path for Spark to list, not one
    * per file) under the footer schema of its first top-level part file.
    * A directory with no part file keeps the plain read — nothing to take
    * a schema from. */
  def dir(spark: SparkSession, dir: Path): DataFrame =
    firstPart(dir) match {
      case Some(f) => spark.read.schema(schema(spark, f)).parquet(dir.toString)
      case None => spark.read.parquet(dir.toString)
    }

  private def firstPart(dir: Path): Option[Path] =
    if (!Files.isDirectory(dir)) None
    else {
      val st = Files.list(dir)
      try st.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      }.minByOption(_.getFileName.toString)
      finally st.close()
    }
}
