package graft

import java.nio.file.Files
import org.apache.spark.sql.CacheProbe
import org.scalatest.funsuite.AnyFunSuite

/** Library code leaves no `CacheManager` entry behind: each query runs the
  * way Verify runs it (one session with `PipJoinRewrite.install`, a
  * `coalesce(1)` parquet write), and the session's cache must be empty
  * afterwards. Otherwise a later query can plan against an earlier one's
  * cache and its work depends on the sweep order.
  */
class CacheLifetimeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  // the queries whose modules persisted frames they never released
  val keys = Seq("q07_ring_assembly", "q34_sink_rows", "q39_holes_rfc7946", "q50_pbf_extract",
    "q74_polygon_stats", "q75_simplify", "q77_centroid", "q88_poly_overlap_join",
    "q104_containment", "q105_snm_pairs", "q106_triangles", "q109_grid_cluster",
    "q112_sparse_cosine", "q140_contiguity", "q141_moran", "q142_lisa", "q143_autocorr",
    "q144_dissolve", "q146_join_counts", "q147_focal_stats", "q148_local_g",
    "q149_areal_interp", "q151_distance_band", "q152_ripley_k", "q159_bfs_hops",
    "q163_dbscan", "q164_sssp", "q177_border_weights", "q181_focal_mode", "q189_viewshed",
    "q191_diameter", "q216_oriented_mbr", "q219_modularity", "q224_bridges",
    "q225_assortativity", "q238_bpe_step", "q240_kappa", "q259_rand_index", "q265_rfm")

  test("no query leaves a CacheManager entry on the session") {
    graft.plans.PipJoinRewrite.install(spark)
    spark.catalog.clearCache()
    val out = Files.createTempDirectory("graft-cache-lifetime").toString
    val leaks = keys.filterNot { q =>
      SparkEntry.queries(q)(spark, "/root/testdata/sf0.001").coalesce(1).write
        .mode("overwrite").parquet(s"$out/$q")
      val empty = CacheProbe.isEmpty(spark)
      spark.catalog.clearCache() // keep each query's verdict its own
      empty
    }
    assert(leaks.isEmpty)
  }
}
