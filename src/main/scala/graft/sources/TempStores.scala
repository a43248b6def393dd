package graft.sources

/** Registry for the session-lifetime temp directories backing the
  * memoized query-served index stores (IVF/PQ/SQ8/BM25/positional/
  * minhash/winnowing). Each store builds once per (session, sf-dir) and
  * is reused for the session's lifetime — correct for multi-pass
  * min-stat benching — but the directories used to outlive the JVM as
  * /tmp litter. One shutdown hook now deletes everything registered
  * here; nothing is deleted mid-session (a memoized path must stay
  * valid as long as its cache entry does).
  */
object TempStores {

  private val dirs =
    scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]

  private lazy val hookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      dirs.synchronized {
        dirs.foreach { d =>
          try deleteRecursively(d.toFile) catch { case _: Exception => }
        }
      }))

  private def deleteRecursively(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRecursively)
    f.delete()
  }

  private val memos = scala.collection.concurrent.TrieMap
    .empty[(String, org.apache.spark.sql.SparkSession, String), String]

  /** The store root a query serves from, built once per (prefix,
    * session, sf-dir): on first use `build` is handed a fresh root under
    * a registered temp directory; later calls return the same root.
    */
  def memo(prefix: String, spark: org.apache.spark.sql.SparkSession,
      dir: String)(build: String => Unit): String =
    memos.getOrElseUpdate((prefix, spark, dir), {
      val root = tempDir(prefix) + "/store"
      build(root)
      root
    })

  /** Create a temp directory registered for deletion at JVM exit. */
  def tempDir(prefix: String): String = {
    hookInstalled
    val d = java.nio.file.Files.createTempDirectory(prefix)
    dirs.synchronized { dirs += d }
    d.toString
  }
}
