package graft.sources

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkSpec}

/** The query fixtures own their scratch space: build-time scratch (streaming
  * checkpoints, staging) is deleted before the query returns, and scratch a
  * returned frame still reads sits at a fixed path that the next run
  * overwrites. Either way a run leaves no new random-named directory in
  * `java.io.tmpdir`, and a rerun adds no entry at all. */
class FixtureScratchSpec extends AnyFunSuite {

  private val d = "/root/testdata/sf0.001"
  private val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))

  private val fixtures = Seq("q_audit_cdf", "q_cdf_incremental",
    "q_cdf_incremental_mixed", "q_audit_optimize", "q_audit_stream_part",
    "q_audit_part_tail", "q_audit_part_travel",
    "q_audit_part_travel_compacted", "q_cdf_part_compacted",
    "q_audit_travel_ts", "q_audit_travel_mixed", "q_cdf_replica_part",
    "q_cdf_mv", "q_cdf_replica", "q_mv_e2e", "q_partition_prune",
    "q_mv_rewrite")

  /** Temp-directory prefixes these fixtures once created and left behind. */
  private val leakPrefixes = Seq("graft_qc_ckpt", "graft_qci_ckpt",
    "graft_qcim_ckpt", "graft_qv_ckpt", "graft_qsp_ckpt", "graft_qpt_wckpt",
    "graft_qptt_ckpt", "graft_qptc_ckpt", "graft_qpcc_ckpt", "graft_qts_ckpt",
    "graft_qtm_ckpt", "graft_qrpp_ckpt", "graft_qrpp_wckpt", "graft_qmv_ckpt",
    "graft_qrep_ckpt", "graft_mv_", "graft_mv_e2e_", "graft_part_prune")

  // the MV queries need the production extensions (static conf)
  private lazy val ext: SparkSession = {
    val base = SparkSpec.session
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  private def listing(): Set[String] = tmp.list().toSet

  private def runAll(names: Seq[String]): Unit =
    names.foreach(n => SparkEntry.queries(n)(ext, d).collect())

  test("the catalog, lake and stream fixtures leave no temp directory behind") {
    ext // the session's own start-up files must predate the first listing
    val before = listing()
    runAll(fixtures)
    val leaked = (listing() -- before)
      .filter(n => leakPrefixes.exists(n.startsWith)).toSeq.sorted
    assert(leaked.isEmpty,
      s"${leaked.size} temp directories left behind: ${leaked.mkString(", ")}")
    val settled = listing()
    runAll(Seq("q_partition_prune", "q_mv_rewrite", "q_mv_e2e"))
    val grown = (listing() -- settled).toSeq.sorted
    assert(grown.isEmpty, s"a rerun added ${grown.mkString(", ")}")
  }
}
