package graft.core

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The parts of a persisted parquet artifact (one directory each under
  * the artifact's root) and the schema its `save` writes each part in,
  * declared once beside that `save`.
  *
  * A load reads every part under its pinned schema instead of letting
  * Spark infer it: inference starts one footer-reading job per part,
  * which on a small artifact is most of what a load costs. The on-disk
  * format is unchanged, so artifacts already written still load.
  * Corrupt parts still fail loudly: a column stored in a type the
  * pinned one cannot be read from fails at the scan, and a column
  * absent from the part's first file (which would otherwise read as
  * NULL) fails the load — that footer is read on the driver, as
  * inference read it, but without a job. */
final class Artifact(parts: (String, String)*) {
  /** Each part's schema, by part name. */
  val schemas: Map[String, StructType] =
    parts.map { case (part, ddl) => part -> StructType.fromDDL(ddl) }.toMap

  /** Part `part` of the artifact written at `dir`. */
  def read(spark: SparkSession, dir: String, part: String): DataFrame = {
    val df = spark.read.schema(schemas(part)).parquet(s"$dir/$part")
    df.inputFiles.headOption.foreach { f =>
      val in = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f),
        spark.sparkContext.hadoopConfiguration))
      val stored = try in.getFileMetaData.getSchema finally in.close()
      val missing = schemas(part).fieldNames.filterNot(stored.containsField)
      require(missing.isEmpty, s"artifact part $dir/$part has no column ${missing.mkString(", ")}")
    }
    df
  }
}
