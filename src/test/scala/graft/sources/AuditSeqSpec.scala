package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** ROOT-LEVEL COMMIT SEQUENCER: every stamp-issuing commit claims its
  * stamp by exclusive create under `_SEQ/` at the table root, so two
  * commits — same millisecond, different partition directories,
  * different writers — can NEVER share a stamp. This was the documented
  * round-15 residual (per-dir `maxVisibleTs+1` floors cannot see a
  * commit in a directory the other writer never reads); with unique
  * stamps the incremental-CDC `max(_commit_ts)+1` checkpoint is
  * exactly-once across any race. */
object AuditSeqSpec {
  /** The 400-claimant stamp race with the IMPL-AGNOSTIC assertions
    * (uniqueness, per-thread monotonicity, floor respect) — shared by
    * the POSIX suite and the object-store-semantics run
    * (ObjectStoreCommitPrimitivesSpec). Impl-specific observables
    * (directory size, debris) are asserted by each caller. */
  private[sources] def claimRace(root: String): Unit = {
    val n = 16
    val per = 25
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    val all = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val dup = new java.util.concurrent.atomic.AtomicInteger(0)
    val nonMono = new java.util.concurrent.atomic.AtomicInteger(0)
    (1 to n).foreach { _ =>
      pool.execute(() => {
        var prev = -1L
        (1 to per).foreach { _ =>
          val v = AuditSeq.next(root, System.currentTimeMillis())
          if (!all.add(v)) dup.incrementAndGet()
          if (v <= prev) nonMono.incrementAndGet()
          prev = v
        }
      })
    }
    pool.shutdown()
    assert(pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS),
      "claimants did not finish")
    assert(dup.get == 0, "duplicate stamps issued")
    assert(nonMono.get == 0, "per-thread claims must strictly increase")
    assert(all.size == n * per, s"expected ${n * per} stamps, ${all.size}")
    // floor is respected even when it is far ahead of the clock
    val far = System.currentTimeMillis() + 1000000L
    assert(AuditSeq.next(root, far) == far, "floor not respected")
    assert(AuditSeq.next(root, 0L) == far + 1L, // above everything issued
      "claim must stay above every issued stamp")
  }
}

class AuditSeqSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSpec.session

  test("claims are unique, strictly increasing, floor-respecting, O(1) dir") {
    val root = java.nio.file.Files.createTempDirectory("graft_seq_").toString
    AuditSeqSpec.claimRace(root)
    // the rename-based pointer keeps the directory O(1), not O(claims):
    // INIT + one pointer file + at most a few inert birth-race strays.
    // (POSIX-only observable: the object-store claim form — create then
    // guarded delete — leaves one inert stray per multi-winner race, so
    // the object-store run asserts debris INERTNESS instead of size.)
    val d = java.nio.file.Paths.get(root).resolve("_SEQ")
    val listing = java.nio.file.Files.list(d)
    try assert(listing.iterator().asScala.size <= 6)
    finally listing.close()
  }

  test("concurrent INSERTs into different partition dirs never tie; " +
    "CDC max+1 is exactly-once across the race") {
    val wh = java.nio.file.Files.createTempDirectory("graft_seq_cdc_")
    val cat = "graft_seq_cdc"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.toString)
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, flag BIGINT) " +
      "USING audit PARTITIONED BY (flag)")
    // 12 single-row OCC appends fired concurrently across 3 directories —
    // many land inside one millisecond; each must claim a distinct stamp
    val pool = java.util.concurrent.Executors.newFixedThreadPool(12)
    (0 until 12).foreach { i =>
      pool.execute(() => spark.sql(
        s"INSERT INTO $cat.db.t VALUES ($i, ${i % 3})"))
    }
    pool.shutdown()
    assert(pool.awaitTermination(120, java.util.concurrent.TimeUnit.SECONDS))
    val path = wh.resolve("db").resolve("t").toString
    val cdfSchema = StructType(Seq(
      StructField("id", LongType), StructField("flag", LongType),
      StructField("_change_type", StringType),
      StructField("_commit_ts", LongType)))
    def feed(sinceMs: Option[Long]) = {
      val r = spark.read.schema(cdfSchema)
        .format(classOf[JsonAuditSink].getName)
        .option("path", path).option("partitionby", "flag")
        .option("changeFeed", "true")
      sinceMs.fold(r)(m => r.option("startingTimestamp", m.toString)).load()
    }
    val events = feed(None)
      .select("id", "_commit_ts").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(events.length === 12)
    val stamps = events.map(_._2)
    assert(stamps.distinct.length === 12,
      s"same-ms tie: stamps ${stamps.sorted.mkString(",")}")
    // exactly-once at EVERY max+1 boundary: a pull from stamp+1 returns
    // exactly the events with a strictly later stamp — no loss, no replay
    stamps.sorted.zipWithIndex.foreach { case (s, rank) =>
      assert(feed(Some(s + 1L)).count() === (11 - rank).toLong,
        s"boundary ${s + 1} lost or replayed events")
    }
  }

  test("a claim consumes the first pointer only after INIT exists, so a " +
    "late birth claim cannot hand it out again") {
    // the state a birth claimant leaves between its two creates: the
    // first pointer, no INIT
    val root = java.nio.file.Files.createTempDirectory("graft_seq_init_")
    try {
      val d = root.resolve("_SEQ")
      java.nio.file.Files.createDirectories(d)
      java.nio.file.Files.createFile(d.resolve("100"))
      assert(AuditSeq.next(root.toString, 0L) === 101L)
      // a claimant whose listing predated the pointer re-creates `100`;
      // its birth claim needs INIT, which the consuming claim made
      assert(java.nio.file.Files.exists(d.resolve("INIT")))
    } finally deleteTree(root)
  }
}
