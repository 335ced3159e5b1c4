package graft.core

import scala.collection.mutable
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The parts of a persisted parquet artifact (one directory or file
  * each under the artifact's root) and the schema its writer stores
  * each part in, declared once beside that writer.
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

  private val memo = mutable.Map.empty[String, Artifact.Loaded]

  /** The version of the artifact at `dir`: every file of every part
    * (part/name, length, modification time), listed on the driver.
    * None when a part is missing, which leaves the failure to `load`. */
  private def version(spark: SparkSession, root: Path): Option[Seq[(String, Long, Long)]] = {
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listed = parts.map { case (part, _) => new Path(root, part) }
      .map(p => if (fs.exists(p)) Some(p -> fs.listStatus(p)) else None)
    if (listed.contains(None)) None
    else Some(listed.flatten.flatMap { case (p, files) =>
      files.map(f => (s"${p.getName}/${f.getPath.getName}", f.getLen, f.getModificationTime))
    }.sortBy(_._1))
  }

  /** `load` of the artifact at `dir`, memoized per directory and
    * session: while the listing of the artifact's files (name, length,
    * modification time) is unchanged, the value `load` returned for
    * this session is returned again, and nothing is read. Any write to
    * the artifact changes that listing, so the next call loads again
    * and re-checks the parts; a missing part leaves the call to `load`
    * and its failure. The memo holds one entry per directory: the
    * loaded value, its plans and whatever driver-side state it has
    * prepared since (a [[Artifact.Holding]] value, such as the text
    * snapshot's probe broadcast). The memo owns that state and releases
    * it when it lets go of the entry: when a new version supersedes
    * it, when a load from another session replaces it (no two sessions
    * share one), and when its session has stopped (dropped on the next
    * call). */
  def memoized[T](spark: SparkSession, dir: String)(load: => T): T = {
    val root = new Path(dir)
    val key = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(root).toString
    val current = version(spark, root)
    val (hit, dropped) = memo.synchronized {
      val stopped = memo.filter(_._2.spark.sparkContext.isStopped)
      memo --= stopped.keys
      val entry = memo.get(key)
      val hit = entry.filter(e => e.spark.eq(spark) && current.contains(e.version))
      if (hit.isEmpty) memo.remove(key)
      (hit, stopped.values ++ entry.filter(_ => hit.isEmpty))
    }
    dropped.foreach(_.release())
    hit match {
      case Some(e) => e.value.asInstanceOf[T]
      case None =>
        val value = load
        current.foreach { v =>
          memo.synchronized(memo.put(key, Artifact.Loaded(spark, v, value))).foreach(_.release())
        }
        value
    }
  }
}

object Artifact {
  /** A loaded value that holds driver-side state beyond its plans;
    * `release` frees it, and a later use prepares it again. */
  trait Holding { def release(): Unit }

  /** One memo entry: the session that loaded it, the version it was
    * loaded at and the loaded value. */
  private final case class Loaded(spark: SparkSession, version: Seq[(String, Long, Long)], value: Any) {
    def release(): Unit = value match {
      case h: Holding => h.release()
      case _ =>
    }
  }
}
