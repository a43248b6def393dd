package graft

import graft.operators.{CorpusOps, DedupOps, DriverModel, SimilarityOps}
import graft.operators.CorpusOps.BoolQuery
import graft.sources.IndexManifest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.transform

/** Every persisted store family lives entirely under its root, in the
  * one [[IndexManifest]] layout: each build and rebuild publishes one
  * complete version, and nothing is ever written beside the root.
  */
class IndexStoreSpec extends SparkSpec {
  import spark.implicits._

  /** One family: `build(ids)` publishes a store over those ids under a
    * root; `table`/`idCol` name the data table a snapshot serves.
    */
  private case class Family(name: String, table: String, idCol: String,
      build: Seq[Long] => String => Unit)

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
  private def registry(ids: Seq[Long]): Seq[BoolQuery] =
    ids.map(i => BoolQuery(i, must = Seq("alpha"), should = Seq(s"word$i")))

  private val families = Seq(
    Family("ivf", "rows", "vec_id",
      ids => SimilarityOps.buildIndex(vecs(ids: _*), cents, _)),
    Family("ivfpq", "rows", "vec_id",
      ids => SimilarityOps.buildIvfPqIndex(vecs(ids: _*), cents, books, _)),
    Family("sq8", "codes", "vec_id",
      ids => SimilarityOps.buildSq8Index(vecs(ids: _*), sq8, _)),
    Family("bm25", "tf", "doc_id",
      ids => CorpusOps.buildBm25Index(texts(ids: _*), _)),
    Family("positional", "pos", "doc_id",
      ids => CorpusOps.buildPositionalIndex(texts(ids: _*), _)),
    Family("percolator", "terms", "query_id",
      ids => CorpusOps.buildPercolateIndex(spark, registry(ids), _)),
    Family("minhash", "sets", "doc_id",
      ids => DedupOps.buildMinhashStore(texts(ids: _*), _)),
    Family("winnowing", "sets", "doc_id",
      ids => DedupOps.buildWinnowingStore(texts(ids: _*), _)))

  /** Visible entries of a directory (the local filesystem's `.crc`
    * checksum siblings are not part of the layout).
    */
  private def entries(d: java.io.File): Set[String] =
    d.list().toSet.filterNot(n => n.startsWith(".") && n.endsWith(".crc"))

  private def ids(root: String, f: Family): Set[Long] =
    IndexManifest.snapshot(spark, root).read(f.table)
      .select(f.idCol).distinct().as[Long].collect().toSet

  for (f <- families)
    test(s"${f.name} store: build, rebuild and prune keep the one manifest layout") {
      val parent = java.nio.file.Files.createTempDirectory(
        s"graft-layout-${f.name}").toFile
      val root = s"$parent/store"
      def layout(versions: Int, step: String): Unit = {
        val at = s"${f.name} $step"
        assert(entries(parent) == Set("store"),
          s"$at wrote beside the root: ${entries(parent)}")
        assert(entries(new java.io.File(root)) == Set("MANIFEST", "versions"),
          s"$at: root holds ${entries(new java.io.File(root))}")
        val vs = new java.io.File(s"$root/versions").listFiles().toSeq
        assert(vs.size == versions, at)
        vs.foreach(v => assert(!entries(v).exists(Set("PARENT", "deletes")),
          s"$at: $v holds ${entries(v)}"))
      }
      f.build(Seq(1L, 2L, 3L))(root)
      layout(1, "build")
      assert(ids(root, f) == Set(1L, 2L, 3L), f.name)
      f.build(Seq(3L, 4L, 5L))(root)
      layout(2, "rebuild")
      assert(IndexManifest.prune(spark, root, keep = 1) == Seq(1), f.name)
      layout(1, "prune")
      assert(ids(root, f) == Set(3L, 4L, 5L), f.name)
    }

  test("a snapshot reads the model and the data of one chain across a rebuild") {
    val root = s"${java.nio.file.Files.createTempDirectory("graft-snapshot")
      .toFile}/store"
    SimilarityOps.buildSq8Index(corpus, sq8, root)
    val snap = IndexManifest.snapshot(spark, root)
    val rebuilt = vecs(10L, 11L, 12L)
      .withColumn("embedding", transform($"embedding", x => x * 7.0f))
    SimilarityOps.buildSq8Index(rebuilt, SimilarityOps.sq8Model(rebuilt), root)
    def mins(s: IndexManifest.Snapshot) =
      s.model("model").sortBy(_.getInt(0)).map(_.getDouble(1)).toSeq
    assert(mins(snap) == sq8._1)
    assert(snap.read("codes").select("vec_id").as[Long]
      .collect().toSet == Set(1L, 2L, 3L, 4L))
    val now = IndexManifest.snapshot(spark, root)
    assert(mins(now) != sq8._1)
    assert(now.read("codes").select("vec_id").as[Long]
      .collect().toSet == Set(10L, 11L, 12L))
  }

  test("a stored model fetch past its cap fails naming the store and the table") {
    val root = s"${java.nio.file.Files.createTempDirectory("graft-model-cap")
      .toFile}/store"
    val three = corpus.filter($"vec_id" <= 3L)
      .select($"vec_id".as("cent_id"), $"embedding".as("cent_emb"))
    SimilarityOps.buildIndex(corpus, three, root)
    val snap = IndexManifest.snapshot(spark, root)
    assert(SimilarityOps.storedCents(snap, cap = 3).map(_._1) ==
      Seq(1L, 2L, 3L))
    val err = intercept[DriverModel.CapExceeded](
      SimilarityOps.storedCents(snap, cap = 2))
    assert(err.getMessage.contains(root) &&
      err.getMessage.contains("centroids"), err.getMessage)
  }
}
