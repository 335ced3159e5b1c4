package graft.core

import java.io.File
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** Scratch-root resolution for per-run artifacts (snapshot indexes,
  * format-roundtrip files, the bench contract's shuffle and spill
  * files): prefer the RAM-backed tmpfs — these artifacts live only
  * for the duration of a run and are rebuilt (mode=overwrite) on every
  * invocation, so durability is irrelevant while create/rename/commit
  * latency on a slow local disk is pure overhead. `/dev/shm` is
  * elected only when it is a writable directory with at least
  * [[MinTmpfsBytes]] = 512 MiB usable: tmpfs is sized from RAM (64 MiB
  * in a default container), and a shuffle or round-trip that fills it
  * fails with ENOSPC mid-stage. Otherwise falls back to
  * java.io.tmpdir. */
object Scratch {
  /** Usable bytes `/dev/shm` must offer to be elected: 512 MiB, about
    * six times the peak measured on a 4-core, 15 GiB VM (sampled every
    * ~0.5 s): graft.Bench at sf0.1 in local[4] added at most 81 MB,
    * with peaks of 70 MB of shuffle and spill files and 7 MB of
    * round-trip directories and snapshot index; `sbt test` (its adaptive sessions keep shuffle
    * files in Spark's default local dir) added at most 2 MB. */
  val MinTmpfsBytes: Long = 512L << 20

  lazy val root: String = {
    val shm = new File("/dev/shm")
    pick(shm.isDirectory, shm.canWrite, shm.getUsableSpace, sys.props("java.io.tmpdir"))
  }

  /** The election, on the probed facts about `/dev/shm`. */
  private[core] def pick(isDirectory: Boolean, writable: Boolean, usableBytes: Long,
      fallback: String): String =
    if (isDirectory && writable && usableBytes >= MinTmpfsBytes) "/dev/shm" else fallback

  /** Per-run directory `graft_<tag>_<applicationId>_<hex(sfDir)>` under
    * [[root]]: keyed by the dataset AND the Spark applicationId, so two
    * concurrent runs over the same sfDir never race on one overwrite
    * path (and a hashCode collision across dirs can't alias paths
    * within a run). The application's directories are deleted when it
    * ends. */
  def runDir(spark: SparkSession, tag: String, sfDir: String): String = {
    val sc = spark.sparkContext
    releaseAtEnd(sc)
    new File(root, s"graft_${tag}_${sc.applicationId}_" +
      Integer.toHexString(sfDir.hashCode)).getPath
  }

  private val watched = mutable.Set[String]()

  private def releaseAtEnd(sc: SparkContext): Unit = watched.synchronized {
    val appId = sc.applicationId
    if (watched.add(appId)) sc.addSparkListener(new SparkListener {
      override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
        release(new File(root), appId)
    })
  }

  /** Deletes every [[runDir]] of application `appId` under `dir`. */
  private[core] def release(dir: File, appId: String): Unit =
    Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("graft_") && f.getName.contains(s"_${appId}_"))
      .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
}
