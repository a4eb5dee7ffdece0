package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.storage.StorageLevel
import graft.operators.Similarity

/** The registry of shared builds that `graft.Bench` times: every memo
  * is registered under its bench name, registry order puts upstream
  * builds first (so each `*_build` entry times only itself), and the
  * IVF entry's two parts are one value. */
class MaterializedTableSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.Sf0001

  private def registry: Seq[MaterializedTable[_]] = {
    SparkEntry.queries
    MaterializedTable.registry
  }

  test("SparkEntry.queries registers the 14 bench builds, each name once") {
    val names = registry.map(_.name)
    assert(names.distinct == names)
    assert(names.toSet == Set("sig_build", "grid_build", "s15_layout_build",
      "ivf_build", "bloom_build", "phash_tight_build", "s22_layout_build",
      "a55_base_build", "corpus_pairs_build", "emb_pairs_build",
      "cc_labels_build", "coreness_build", "slice100_build",
      "slice200_build"))
  }

  test("in registry order, each build builds no other registered entry") {
    val reg = registry
    reg.reverse.foreach(_.invalidate(spark, sf))
    assert(reg.forall(!_.cached(spark, sf)))
    reg.zipWithIndex.foreach { case (b, i) =>
      b(spark, sf)
      val warm = reg.filter(_.cached(spark, sf)).map(_.name)
      assert(warm == reg.take(i + 1).map(_.name),
        s"building ${b.name} with every earlier build warm")
    }
  }

  test("invalidating the IVF entry rebuilds quantizer and lists together") {
    val v1 = Similarity.ivf(spark, sf)
    assert(Similarity.ivf(spark, sf) eq v1)
    assert(v1.lists.storageLevel != StorageLevel.NONE)
    Similarity.ivf.invalidate(spark, sf)
    assert(!Similarity.ivf.cached(spark, sf))
    // checked before the rebuild: the rebuilt lists' plan is equal, so
    // the cache manager would report ITS storage level for v1 as well
    assert(v1.lists.storageLevel == StorageLevel.NONE)
    val v2 = Similarity.ivf(spark, sf)
    assert(!(v2.centroids eq v1.centroids))
    assert(!(v2.lists eq v1.lists))
    assert(v2.centroids.map(_._1).toSeq == v1.centroids.map(_._1).toSeq)
    assert(v2.lists.count() == v1.lists.count())
  }
}
