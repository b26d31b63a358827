package graft

import org.apache.spark.sql.SparkSession
import scala.collection.concurrent.TrieMap

/**
 * The one home of per-process artifacts: how each is built once, keyed,
 * swept and reclaimed. Two entry points, one per lifetime:
 *
 *  - [[onDisk]] — files shared by every session of the JVM (IVF indexes,
 *    the kNN graph, the text index, the V2 log, the skip-list, the
 *    dedup catalogs). The path is `<tmpdir>/graft_<tag>_<pid>_<md5(key)>`,
 *    so concurrent JVMs never share files; a stale directory left by a
 *    failed attempt is removed before the build, and a shutdown hook
 *    reclaims the files (no oracle reads them — every DuckDB twin
 *    recomputes from the testdata tables).
 *  - [[perSession]] — driver-side values tied to one SparkSession
 *    (row counts, PQ codebooks, blooms, catalog table names, the
 *    synthesized event-log view). Keys of stopped sessions are swept on
 *    every lookup, so a long-lived JVM hosting many sessions never pins
 *    dead ones (the reference closes a spout's consumer when the spout
 *    closes).
 *
 * Both run their build at most once per key without a global lock (one
 * dir's Spark write never convoys another's): racing misses may create
 * two holders — side-effect free — `getOrElseUpdate` installs one winner,
 * and only the winner's lazy `value` runs the build. A build that throws
 * leaves the value uninitialized, so the next call retries.
 */
private[graft] object FixtureStore {

  private final class Lazy(build: () => Any) { lazy val value: Any = build() }

  private val files = TrieMap.empty[(String, String), Lazy]
  private val values = TrieMap.empty[(SparkSession, Any), Lazy]

  /** The one recursive delete for local artifact trees. */
  def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete(): Unit
  }

  /** Resolve (building on the first call) the artifact `tag` over `key`
    * (usually a testdata dir); `build` writes it under the path it is
    * given. Returns the path. */
  def onDisk(tag: String, key: String)(build: String => Unit): String =
    files.getOrElseUpdate((tag, key), new Lazy(() => {
      val pid = ProcessHandle.current().pid()
      val slug = java.security.MessageDigest.getInstance("MD5")
        .digest(key.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(12)
      val path =
        s"${System.getProperty("java.io.tmpdir")}/graft_${tag}_${pid}_$slug"
      val f = new java.io.File(path)
      if (f.exists()) rmTree(f) // stale from a failed earlier attempt
      Runtime.getRuntime.addShutdownHook(new Thread(() => rmTree(f)))
      build(path)
      path
    })).value.asInstanceOf[String]

  /** The value for `key` in session `s`, built by `build` on the first
    * call. */
  def perSession[A](s: SparkSession, key: Any)(build: => A): A = {
    sweep(_.sparkContext.isStopped)
    values.getOrElseUpdate((s, key), new Lazy(() => build)).value.asInstanceOf[A]
  }

  /** Drop every session value whose session `dead` names. Lookups pass
    * "context stopped"; a suite sharing one live context across the JVM
    * passes its own predicate to drive the same path. */
  private[graft] def sweep(dead: SparkSession => Boolean): Unit =
    values.keys.filter(k => dead(k._1)).foreach(values.remove)
}
