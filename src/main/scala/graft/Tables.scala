package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.SessionBridge
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  * At cluster scale these would be partitioned external tables; the API is
  * kept to plain parquet reads so Catalyst's pushdown/pruning applies
  * unimpeded (scan nodes show PushedFilters/ReadSchema).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** `dir/name.parquet` as a DataFrame. Inferring a parquet schema
    * starts a Spark job that reads a footer (about 0.1 s), and every
    * query construction loads its tables afresh, so the schema is
    * inferred on a table's first load only and handed to
    * `spark.read.schema(s)` on later loads, which start no job. A memo
    * entry is keyed on the path and the session's set `*parquet*` confs
    * (they change what inference decodes, e.g. nanosAsLong), and holds
    * the file listing (name, length, mtime) it was inferred from: a
    * rewritten file infers again. A path that cannot be listed is read
    * as before, so it fails as before.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    listing(spark, path) match {
      case None => spark.read.parquet(path)
      case Some(files) =>
        val key = (path, spark.conf.getAll.filter(_._1.contains("parquet")))
        schemas.get(key) match {
          case Some((`files`, schema)) => spark.read.schema(schema).parquet(path)
          case _ =>
            val df = spark.read.parquet(path)
            schemas.put(key, (files, df.schema))
            df
        }
    }
  }

  private type Listing = Seq[(String, Long, Long)]

  private val schemas = scala.collection.concurrent.TrieMap
    .empty[(String, Map[String, String]), (Listing, StructType)]

  /** Every file under `path` (or `path` itself) as (name, length, mtime),
    * or None when the path cannot be listed.
    */
  private def listing(spark: SparkSession, path: String): Option[Listing] =
    scala.util.Try {
      val p = new Path(path)
      val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listFiles(p, true)
      val b = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        b += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      b.result().sorted
    }.toOption

  /** The driver's test parquet files are written as a single row group, so
    * a scan gets exactly ONE task no matter the cluster size — every
    * CPU-heavy narrow stage (JSON encode/decode, shingling, hashing)
    * would serialize on one core. Spread the hot tables across the
    * default parallelism up front (a ~MB-scale shuffle, trivial).
    *
    * The lazy localCheckpoint truncates lineage at the repartition:
    * without it, Catalyst pushes query predicates below the new Exchange
    * into the single-task scan stage — for the injector queries that
    * re-materializes the whole JSON encode+decode up to 3× per row on one
    * core (measured 10-100× slowdowns). With the barrier, all query
    * compute runs post-shuffle across every core with common-subexpression
    * elimination intact. Local-harness concern only: a real deployment's
    * sources arrive pre-partitioned (Kafka partitions, many files) and
    * early predicate pushdown at a parallel scan is exactly what you want.
    */
  private def spread(spark: SparkSession, df: DataFrame): DataFrame =
    df.repartition(spark.sparkContext.defaultParallelism)
      .localCheckpoint(false)

  /** Memoized spread tables, keyed by (session, dir, table). Without this,
    * every one of the ~46 registered queries re-shuffles and re-persists
    * its input inside one Verify/Bench JVM — dozens of live checkpointed
    * copies of the same table, enough storage-memory pressure to throw the
    * whole run into GC thrash (and a flood of stale-accumulator ERRORs as
    * the ContextCleaner races the stragglers). One materialization per
    * table is also simply what a warm table cache does on a real cluster.
    */
  private val spreadCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), DataFrame]

  private def cachedSpread(spark: SparkSession, dir: String, name: String)(
      mk: => DataFrame): DataFrame =
    spreadCache.getOrElseUpdate((spark, dir, name), spread(spark, mk))

  /** Release one dir's memoized spread tables (the ScaleProbe hook:
    * after the base-scale passes, the base checkpoints are dead weight —
    * dropping the references lets the ContextCleaner reclaim the blocks
    * before the scaled passes measure).
    */
  def dropSpread(dir: String): Unit =
    spreadCache.keys.filter(_._2 == dir).foreach(spreadCache.remove)

  /** `events.ts` has shipped in two physical encodings across testdata
    * generations: TIMESTAMP(NANOS) (which Spark's vectorized reader rejects
    * outright — read as long nanos via spark.sql.legacy.parquet.nanosAsLong
    * and truncate with integer division, no double-mantissa loss) and plain
    * TIMESTAMP(MICROS) (read natively). Branch on the decoded type so both
    * generations load identically; downstream comparisons are at ms
    * precision (the reference's own unit). The read and the spread are
    * planned on a clone of `spark` that carries the nanos flag, on a
    * cache miss only; the caller's session conf is never written.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    spreadCache.getOrElseUpdate((spark, dir, "events"),
      SessionBridge.withConf(spark,
        "spark.sql.legacy.parquet.nanosAsLong", "true") { s =>
        val raw = load(s, dir, "events")
        spread(s, raw.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            raw.withColumn("ts",
              org.apache.spark.sql.functions.timestamp_micros(
                org.apache.spark.sql.functions.expr("ts div 1000")))
          case org.apache.spark.sql.types.TimestampNTZType =>
            // NTZ parquet (isAdjustedToUTC=false). Sessions pin UTC, so
            // the cast is wall-clock-preserving and matches DuckDB's
            // naive read; downstream code (unix_millis, window()) needs
            // TIMESTAMP.
            raw.withColumn("ts",
              raw("ts").cast(org.apache.spark.sql.types.TimestampType))
          case _ => raw
        })
      })
  def documents(spark: SparkSession, dir: String): DataFrame =
    cachedSpread(spark, dir, "documents")(load(spark, dir, "documents"))
  /** Spread lineitem for CPU-heavy whole-table aggregates (the wide
    * decimal moment sums of es_matrix_stats serialize on the single
    * row-group scan otherwise). TPC-H queries deliberately keep the
    * RAW load — their predicate pushdown into the scan is plan-pinned
    * and is what a parallel row-group scan wants at scale.
    */
  def lineitemSpread(spark: SparkSession, dir: String): DataFrame =
    cachedSpread(spark, dir, "lineitem")(load(spark, dir, "lineitem"))
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    cachedSpread(spark, dir, "embeddings")(load(spark, dir, "embeddings"))
}
