package graft

import graft.operators.{CorpusOps, DedupOps, SimilarityOps}
import graft.operators.CorpusOps.BoolQuery
import graft.sources.IndexManifest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.transform

/** Every persisted store family lives entirely under its root, in the
  * one [[IndexManifest]] layout: build, append, delete and compact each
  * publish one version, and nothing is ever written beside the root.
  */
class IndexStoreSpec extends SparkSpec {
  import spark.implicits._

  /** One family: build the base, append a batch, append an empty batch,
    * compact the chain; `table`/`idCol` name the data table
    * [[IndexManifest.Snapshot.read]] serves.
    */
  private case class Family(name: String, table: String, idCol: String,
      build: String => Unit, append: String => Unit,
      appendEmpty: String => Unit, compact: String => Unit)

  private def vecs(ids: Long*): DataFrame =
    ids.map(i => (i, Array(1.0f + i, 0.5f, i % 3.0f, 1.0f)))
      .toDF("vec_id", "embedding")

  private def texts(ids: Long*): DataFrame =
    ids.map(i => (i, s"alpha beta gamma delta word$i epsilon zeta eta"))
      .toDF("doc_id", "text")

  private lazy val corpus = vecs(1L, 2L, 3L, 4L)
  private lazy val cents = corpus.filter($"vec_id" <= 2L)
    .select($"vec_id".as("cent_id"), $"embedding".as("cent_emb"))
  private lazy val books =
    SimilarityOps.pqBooksOf(corpus, Seq(1L, 3L), m = 2, dim = 4)
  private lazy val sq8 = SimilarityOps.sq8Model(corpus)
  private val registry = Seq(
    BoolQuery(1L, must = Seq("alpha"), should = Seq("beta")),
    BoolQuery(2L, should = Seq("gamma", "word1"), minShould = 1),
    BoolQuery(3L, must = Seq("zeta")))

  private val families = Seq(
    Family("ivf", "rows", "vec_id",
      SimilarityOps.buildIndex(corpus, cents, _),
      SimilarityOps.appendToIndex(vecs(5L, 6L), _),
      SimilarityOps.appendToIndex(vecs(), _),
      SimilarityOps.compactIndex(spark, _)),
    Family("ivfpq", "rows", "vec_id",
      SimilarityOps.buildIvfPqIndex(corpus, cents, books, _),
      SimilarityOps.appendToIvfPqIndex(vecs(5L, 6L), _),
      SimilarityOps.appendToIvfPqIndex(vecs(), _),
      SimilarityOps.compactIndex(spark, _)),
    Family("sq8", "codes", "vec_id",
      SimilarityOps.buildSq8Index(corpus, sq8, _),
      SimilarityOps.appendToSq8Index(vecs(5L, 6L), _),
      SimilarityOps.appendToSq8Index(vecs(), _),
      SimilarityOps.compactSq8Index(spark, _)),
    Family("bm25", "tf", "doc_id",
      CorpusOps.buildBm25Index(texts(1L, 2L, 3L), _),
      CorpusOps.appendToBm25Index(texts(5L, 6L), _),
      CorpusOps.appendToBm25Index(texts(), _),
      CorpusOps.compactBm25Index(spark, _)),
    Family("positional", "pos", "doc_id",
      CorpusOps.buildPositionalIndex(texts(1L, 2L, 3L), _),
      CorpusOps.appendToPositionalIndex(texts(5L, 6L), _),
      CorpusOps.appendToPositionalIndex(texts(), _),
      CorpusOps.compactPositionalIndex(spark, _)),
    Family("percolator", "terms", "query_id",
      CorpusOps.buildPercolateIndex(spark, registry.take(2), _),
      CorpusOps.appendToPercolateIndex(spark, registry.drop(2), _),
      CorpusOps.appendToPercolateIndex(spark, Seq.empty, _),
      CorpusOps.compactPercolateIndex(spark, _)),
    Family("minhash", "sets", "doc_id",
      DedupOps.buildMinhashStore(texts(1L, 2L, 3L), _),
      DedupOps.appendToMinhashStore(texts(5L, 6L), _),
      DedupOps.appendToMinhashStore(texts(), _),
      DedupOps.compactMinhashStore(spark, _)),
    Family("winnowing", "sets", "doc_id",
      DedupOps.buildWinnowingStore(texts(1L, 2L, 3L), _),
      DedupOps.appendToWinnowingStore(texts(5L, 6L), _),
      DedupOps.appendToWinnowingStore(texts(), _),
      DedupOps.compactWinnowingStore(spark, _)))

  /** Visible entries of a directory (the local filesystem's `.crc`
    * checksum siblings are not part of the layout).
    */
  private def entries(d: java.io.File): Set[String] =
    d.list().toSet.filterNot(n => n.startsWith(".") && n.endsWith(".crc"))

  private def ids(root: String, f: Family): Set[Long] =
    IndexManifest.snapshot(spark, root).read(f.table, f.idCol)
      .select(f.idCol).distinct().as[Long].collect().toSet

  for (f <- families)
    test(s"${f.name} store: build, append, delete and compact keep the one manifest layout") {
      val parent = java.nio.file.Files.createTempDirectory(
        s"graft-layout-${f.name}").toFile
      val root = s"$parent/store"
      def layout(chain: Int, step: String): Unit = {
        assert(entries(parent) == Set("store"),
          s"$step wrote beside the root: ${entries(parent)}")
        assert(entries(new java.io.File(root)) == Set("MANIFEST", "versions"),
          s"$step: root holds ${entries(new java.io.File(root))}")
        assert(IndexManifest.chainVersions(spark, root).size == chain, step)
      }
      f.build(root)
      layout(1, "build")
      val built = ids(root, f)
      f.append(root)
      layout(2, "append")
      val appended = ids(root, f)
      assert(appended.size > built.size && built.subsetOf(appended))
      // an empty batch publishes nothing, so the store stays readable
      f.appendEmpty(root)
      assert(ids(root, f) == appended)
      layout(2, "empty append")
      IndexManifest.delete(spark, root, Seq(built.min))
      layout(3, "delete")
      assert(ids(root, f) == appended - built.min)
      f.compact(root)
      layout(1, "compact")
      assert(ids(root, f) == appended - built.min)
      assert(IndexManifest.chainVersions(spark, root) == Seq(4))
    }

  private def tempRoot(name: String): String =
    s"${java.nio.file.Files.createTempDirectory(name).toFile}/store"

  test("compaction refuses to drop a table that an append wrote") {
    val root = tempRoot("graft-compact-guard")
    CorpusOps.buildBm25Index(texts(1L, 2L), root)
    CorpusOps.appendToBm25Index(texts(3L), root)
    intercept[IllegalArgumentException](
      IndexManifest.compact(spark, root, "doc_id", Map.empty))
    assert(IndexManifest.chainVersions(spark, root) == Seq(2, 1))
  }

  test("a snapshot reads the model and the data of one chain across a rebuild") {
    val root = tempRoot("graft-snapshot")
    SimilarityOps.buildSq8Index(corpus, sq8, root)
    val snap = IndexManifest.snapshot(spark, root)
    val rebuilt = vecs(10L, 11L, 12L)
      .withColumn("embedding", transform($"embedding", x => x * 7.0f))
    SimilarityOps.buildSq8Index(rebuilt, SimilarityOps.sq8Model(rebuilt), root)
    def mins(s: IndexManifest.Snapshot) =
      s.model("model").orderBy("i").select("mn").as[Double].collect().toSeq
    assert(mins(snap) == sq8._1)
    assert(snap.read("codes", "vec_id").select("vec_id").as[Long]
      .collect().toSet == Set(1L, 2L, 3L, 4L))
    val now = IndexManifest.snapshot(spark, root)
    assert(mins(now) != sq8._1)
    assert(now.read("codes", "vec_id").select("vec_id").as[Long]
      .collect().toSet == Set(10L, 11L, 12L))
  }

  test("a chain of several versions is read through one scan") {
    def scans(df: DataFrame): Seq[String] =
      df.queryExecution.executedPlan.toString.split("\n").toSeq
        .filter(_.contains("FileScan parquet"))
    val ivf = tempRoot("graft-one-scan-ivf")
    SimilarityOps.buildIndex(corpus, cents, ivf)
    SimilarityOps.appendToIndex(vecs(5L), ivf)
    SimilarityOps.appendToIndex(vecs(6L, 7L), ivf)
    val rows = IndexManifest.snapshot(spark, ivf).read("rows", "vec_id")
    assert(rows.select("vec_id").as[Long].collect().toSet ==
      Set(1L, 2L, 3L, 4L, 5L, 6L, 7L))
    val probed = rows.filter($"cell" === 1)
    assert(scans(probed).size == 1)
    assert(scans(probed).head.contains("PartitionFilters: [isnotnull(cell"))
    assert(probed.count() ==
      rows.collect().count(_.getAs[Int]("cell") == 1))
    val bm25 = tempRoot("graft-one-scan-bm25")
    CorpusOps.buildBm25Index(texts(1L, 2L), bm25)
    CorpusOps.appendToBm25Index(texts(3L), bm25)
    CorpusOps.appendToBm25Index(texts(4L), bm25)
    val tf = IndexManifest.snapshot(spark, bm25).read("tf", "doc_id")
    assert(scans(tf).size == 1)
    assert(tf.select("doc_id").distinct().as[Long].collect().toSet ==
      Set(1L, 2L, 3L, 4L))
  }
}
