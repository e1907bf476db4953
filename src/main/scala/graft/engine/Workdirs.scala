package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Shared once-per-JVM work-directory materialization: one sanitizer and
  * one memo, [[materializeOnce]], instead of a copy per module (Gold
  * layers, the bucketed star, the incremental demo, CSV staging, the
  * streaming source dir all use it).
  *
  * Filesystem probes go through the Hadoop [[org.apache.hadoop.fs
  * .FileSystem]] API, never `java.io.File` — paths here are local in the
  * sandbox but HDFS/S3/GCS on a real cluster, and `java.io.File` silently
  * answers "missing" for every non-local URI.
  */
object Workdirs {

  /** Does `path` exist on whatever filesystem its scheme names? */
  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  /** Recursive delete on the path's own filesystem; no-op when absent. */
  def delete(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true): Unit
  }

  /** `run` runs `build` once, under this cell's lock; a throw leaves it unrun. */
  private final class Once(build: () => Unit) { lazy val run: Unit = build() }

  private val done = new java.util.concurrent.ConcurrentHashMap[String, Once]()

  /** Filesystem-safe key for an sfDir. */
  def key(sfDir: String): String =
    sfDir.replaceAll("[^A-Za-z0-9.]+", "_").dropWhile(_ == '_')

  /** Run `build` at most once per (JVM, kind, sfDir) on the work dir
    * `target/<kind>/<key>`, and return that dir. A build may call
    * materializeOnce itself: each build holds only its own cell's lock.
    */
  def materializeOnce(kind: String, sfDir: String)(build: String => Unit): String = {
    val dir = new java.io.File(s"target/$kind/${key(sfDir)}").getAbsolutePath
    done.computeIfAbsent(s"$kind|$sfDir", _ => new Once(() => build(dir))).run
    dir
  }

  /** Local recursive delete, only for `graft.streaming`'s
    * `Files.createTempDirectory` dirs; any other path takes [[delete]].
    */
  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Await EVERY future — stragglers included — then rethrow the first
    * failure (if any). Rethrowing on the first error while sibling jobs
    * are still running would let a caller's retry overlap the failed
    * attempt's live writes on the same paths (the round-4 advice race;
    * unit-locked in GoldSpec).
    */
  def settleAll(futures: Seq[scala.concurrent.Future[_]])(
      implicit ec: scala.concurrent.ExecutionContext): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    val settled = futures.map(_.map(_ => Option.empty[Throwable])
      .recover { case e => Some(e) })
    Await.result(Future.sequence(settled), Duration.Inf)
      .flatten.headOption.foreach(e => throw e)
  }
}
