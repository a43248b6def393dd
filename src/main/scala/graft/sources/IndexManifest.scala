package graft.sources

import graft.operators.DriverModel
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The one lifecycle of every persisted index store (IVF, IVF-PQ, SQ8,
  * BM25, positional, percolator, MinHash, winnowing) — the
  * atomic-publish device of the table formats (Delta/Iceberg/Hive ACID),
  * reduced to what a parquet index needs. The reference gets index
  * atomicity for free from Elasticsearch's per-document versioning
  * (elasticsearch/elasticsearch.go bulk `create`); a file-based store
  * has to provide its own. Each family keeps only its own encoding
  * (which tables, which columns); publishing, reading and retiring
  * versions all go through here.
  *
  * Layout — a store root holds nothing else:
  * {{{
  *   <root>/MANIFEST                    one line: the current version
  *   <root>/versions/v<N>/<table>/      immutable-after-publish tables
  * }}}
  *
  * Every version is COMPLETE: a build writes every data table plus the
  * family's model tables (centroids, codebooks, quantizer, build
  * params). A store is never appended to, deleted from or compacted in
  * place; updating it is a rebuild through [[publish]]. The writer
  * builds the new version directory, then swaps the MANIFEST pointer
  * with `FileContext.rename(OVERWRITE)` — a single atomic metadata op on
  * HDFS-like filesystems. So:
  *  - a crash anywhere before the swap leaves the old version live and
  *    the half-written one invisible (no recovery dance);
  *  - a reader resolves the version once ([[snapshot]]) and reads every
  *    table it needs from it, over files that are never rewritten in
  *    place — a reader holding v3 is unaffected by v4's publish;
  *  - old versions retire only via [[prune]], giving in-flight scans a
  *    grace window (the table-format "vacuum" discipline).
  */
object IndexManifest {

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifest(root: String) = new Path(s"$root/MANIFEST")

  private def versionDir(root: String, v: Int): String = s"$root/versions/v$v"

  /** The published version, if any. */
  def currentVersion(spark: SparkSession, root: String): Option[Int] = {
    val mp = manifest(root)
    val f = fs(spark, mp)
    if (!f.exists(mp)) None
    else {
      val in = f.open(mp)
      try Some(new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim.toInt)
      finally in.close()
    }
  }

  /** Directory of the current version — the ONLY path readers scan. */
  def resolve(spark: SparkSession, root: String): String =
    versionDir(root,
      currentVersion(spark, root).getOrElse(throw new java.io.FileNotFoundException(
        s"IndexManifest: no MANIFEST under $root — index never published")))

  /** Write a new version via `write` (handed the new version directory),
    * then atomically swap the pointer to it. Returns the new version.
    * If `write` throws, the manifest is untouched and the partial
    * version directory is invisible to every reader.
    */
  def publish(spark: SparkSession, root: String)(
      write: String => Unit): Int = {
    val next = currentVersion(spark, root).getOrElse(0) + 1
    // a crashed writer may have left an unpublished (invisible) v<next>
    // behind; it was never current, so clearing it is safe
    val nd = new Path(versionDir(root, next))
    val f = fs(spark, nd)
    if (f.exists(nd) && !f.delete(nd, true))
      throw new java.io.IOException(
        s"IndexManifest.publish: could not clear orphaned $nd")
    write(versionDir(root, next))
    swapPointer(spark, root, next)
    next
  }

  /** One resolved version of a store. A reader of several tables (a
    * search's model plus its data, the percolator's terms plus meta)
    * takes ONE snapshot and reads every table from it, so a publish
    * landing between two reads can never pair one build's quantizer or
    * centroids with another's codes.
    */
  final class Snapshot private[IndexManifest] (spark: SparkSession,
      val root: String, dir: String) {

    /** One table of the version: a plain parquet scan. */
    def read(table: String): DataFrame = spark.read.parquet(s"$dir/$table")

    /** Every row of `df`, a driver-sized frame over this store's `table`
      * (a model table, or the probed keys of a data table), in one
      * [[DriverModel.collectBounded]] fetch. More than `cap` rows fails
      * with [[DriverModel.CapExceeded]] naming the store and the table.
      */
    def fetch(table: String, cap: Int)(df: DataFrame): Array[Row] =
      DriverModel.collectBounded(df, cap).getOrElse(
        throw new DriverModel.CapExceeded(s"IndexManifest: table $table " +
          s"of $root needs more than $cap rows on the driver"))

    /** Every row of a model table (centroids, codebooks, quantizer,
      * build params), unordered: callers sort on the driver.
      */
    def model(table: String, cap: Int = DriverModel.DefaultCap)
        : Array[Row] =
      fetch(table, cap)(read(table))
  }

  /** Resolve the current version of `root` once. */
  def snapshot(spark: SparkSession, root: String): Snapshot =
    new Snapshot(spark, root, resolve(spark, root))

  /** The atomic pointer swap: write MANIFEST.tmp, rename OVERWRITE onto
    * MANIFEST. `FileContext.rename(OVERWRITE)` is the Hadoop API whose
    * contract IS atomic replace on HDFS (plain `FileSystem.rename`
    * refuses existing destinations, so a swap through it would have to
    * delete first and leave a window with no pointer).
    */
  private def swapPointer(spark: SparkSession, root: String,
      v: Int): Unit = {
    val mp = manifest(root)
    val tmp = new Path(s"$root/MANIFEST.tmp")
    val f = fs(spark, mp)
    val out = f.create(tmp, true)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    val fc = FileContext.getFileContext(mp.toUri,
      spark.sparkContext.hadoopConfiguration)
    fc.rename(tmp, mp, Options.Rename.OVERWRITE)
  }

  /** Retire superseded version directories, except the newest `keep - 1`
    * of them (the grace window for in-flight readers still scanning a
    * superseded version). The current version, and anything above it (a
    * concurrent writer's unpublished version), is never deleted. Run
    * after [[publish]]. Returns the versions deleted.
    */
  def prune(spark: SparkSession, root: String, keep: Int = 2): Seq[Int] = {
    require(keep >= 1, s"prune must keep the current version (keep=$keep)")
    val cur = currentVersion(spark, root).getOrElse(return Seq.empty)
    val vdir = new Path(s"$root/versions")
    val f = fs(spark, vdir)
    if (!f.exists(vdir)) return Seq.empty
    val retire = f.listStatus(vdir).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v") => n.drop(1).toInt }
      .filter(_ < cur)
      .sorted
      .dropRight(keep - 1)
    retire.foreach { v =>
      if (!f.delete(new Path(versionDir(root, v)), true))
        throw new java.io.IOException(
          s"IndexManifest.prune: could not delete ${versionDir(root, v)}")
    }
    retire
  }
}
