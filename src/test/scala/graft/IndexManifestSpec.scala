package graft

import graft.sources.IndexManifest
import org.apache.spark.sql.functions._

/** The atomic-publish contract of the manifest-versioned index layout:
  * crash-before-swap invisibility, reader isolation across a publish,
  * and prune's keep-the-current discipline.
  */
class IndexManifestSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-manifest").toString +
      "/idx"

  test("publish: version appears only after the pointer swap") {
    val root = tmpRoot()
    assert(IndexManifest.currentVersion(spark, root).isEmpty)
    intercept[java.io.FileNotFoundException] {
      IndexManifest.resolve(spark, root)
    }
    val v = IndexManifest.publish(spark, root) { vdir =>
      Seq((1L, "a")).toDF("id", "s").write.parquet(s"$vdir/t")
    }
    assert(v == 1 && IndexManifest.currentVersion(spark, root).contains(1))
    assert(spark.read.parquet(
      s"${IndexManifest.resolve(spark, root)}/t").count() == 1)
  }

  test("crash before swap leaves the old version live and consistent") {
    val root = tmpRoot()
    IndexManifest.publish(spark, root) { vdir =>
      Seq((1L, "a")).toDF("id", "s").write.parquet(s"$vdir/t")
    }
    // simulated crash: the writer dies mid-version, after creating some
    // files but before the pointer swap
    intercept[RuntimeException] {
      IndexManifest.publish(spark, root) { vdir =>
        Seq((2L, "b")).toDF("id", "s").write.parquet(s"$vdir/t")
        throw new RuntimeException("died mid-publish")
      }
    }
    // pointer untouched; readers still see exactly v1
    assert(IndexManifest.currentVersion(spark, root).contains(1))
    assert(spark.read.parquet(
      s"${IndexManifest.resolve(spark, root)}/t")
      .as[(Long, String)].collect().toSeq == Seq((1L, "a")))
    // the next successful publish claims a FRESH version number past the
    // orphan and becomes current
    val v = IndexManifest.publish(spark, root) { vdir =>
      Seq((3L, "c")).toDF("id", "s").write.mode("overwrite")
        .parquet(s"$vdir/t")
    }
    assert(v == 2 && IndexManifest.currentVersion(spark, root).contains(2))
  }

  test("reader holding an old version is isolated from a new publish") {
    val root = tmpRoot()
    IndexManifest.publish(spark, root) { vdir =>
      Seq((1L, "a")).toDF("id", "s").write.parquet(s"$vdir/t")
    }
    // reader resolves v1 and builds its plan
    val v1Scan = spark.read.parquet(
      s"${IndexManifest.resolve(spark, root)}/t")
    // a rebuild publishes v2 meanwhile
    IndexManifest.publish(spark, root) { vdir =>
      Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(s"$vdir/t")
    }
    // old reader: unchanged file list (v1 still on disk, keep=2 window);
    // new reader: sees v2
    assert(v1Scan.count() == 1)
    assert(spark.read.parquet(
      s"${IndexManifest.resolve(spark, root)}/t").count() == 2)
  }

  test("prune retires oldest versions, never the current") {
    val root = tmpRoot()
    (1 to 4).foreach { i =>
      IndexManifest.publish(spark, root) { vdir =>
        Seq((i.toLong, "x")).toDF("id", "s").write.parquet(s"$vdir/t")
      }
    }
    assert(IndexManifest.prune(spark, root, keep = 2) == Seq(1, 2))
    val left = new java.io.File(s"$root/versions").listFiles()
      .map(_.getName).sorted.toSeq
    assert(left == Seq("v3", "v4"))
    assert(spark.read.parquet(
      s"${IndexManifest.resolve(spark, root)}/t")
      .select(col("id")).as[Long].collect().toSeq == Seq(4L))
    intercept[IllegalArgumentException] {
      IndexManifest.prune(spark, root, keep = 0)
    }
    // a writer's unpublished version above the current one is not
    // prune's to retire
    intercept[RuntimeException] {
      IndexManifest.publish(spark, root) { vdir =>
        Seq((5L, "x")).toDF("id", "s").write.parquet(s"$vdir/t")
        throw new RuntimeException("died mid-publish")
      }
    }
    assert(IndexManifest.prune(spark, root, keep = 1) == Seq(3))
    assert(new java.io.File(s"$root/versions").listFiles()
      .map(_.getName).sorted.toSeq == Seq("v4", "v5"))
  }
}
