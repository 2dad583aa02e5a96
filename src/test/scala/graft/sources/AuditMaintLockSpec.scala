package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkSpec, TempDirs}

/** `_MAINT_LOCK`: the single-maintenance-writer rule is ENFORCED, not
  * just documented — a second concurrent OPTIMIZE/VACUUM/DML is rejected
  * loudly, a finished operation releases promptly, an expired lease is
  * stealable, and the steal is compare-and-swap (the loser of a steal
  * race throws before touching metadata). */
class AuditMaintLockSpec extends AnyFunSuite with TempDirs {

  private lazy val spark: SparkSession = SparkSpec.session

  private def freshTable(tag: String): (String, String) = {
    val wh = tempDir(s"graft_mlock_${tag}_")
    val cat = graft.SparkSpec.uniqueCat(s"graft_mlock_$tag")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.toString)
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, v BIGINT) USING audit")
    spark.sql(
      s"INSERT INTO $cat.db.t SELECT id, id * 7 FROM range(0, 1000)")
    (cat, wh.resolve("db").resolve("t").toString)
  }

  test("a second concurrent maintenance operation is refused loudly") {
    val (cat, path) = freshTable("conc")
    // simulate a live OPTIMIZE by holding the lease ourselves
    val held = AuditMaintLock.acquire(path, "optimize")
    val ex = intercept[IllegalStateException](
      spark.sql(s"CALL $cat.system.optimize(table => 'db.t')"))
    assert(ex.getMessage.contains("holds the maintenance lease"),
      ex.getMessage)
    // DML is maintenance too: UPDATE (delta commit) must also refuse.
    // Spark wraps the commit-time failure; the cause chain carries it.
    val ex2 = intercept[Throwable](
      spark.sql(s"UPDATE $cat.db.t SET v = 0 WHERE id = 3"))
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: chain(t.getCause)
    assert(chain(ex2).exists(t => t.getMessage != null &&
      t.getMessage.contains("holds the maintenance lease")), ex2.toString)
    // ...and the metadata DELETE path
    val ex3 = intercept[Throwable](
      spark.sql(s"DELETE FROM $cat.db.t WHERE id = 5"))
    assert(chain(ex3).exists(t => t.getMessage != null &&
      t.getMessage.contains("holds the maintenance lease")), ex3.toString)
    AuditMaintLock.release(path, held)
    // released: the same operations now run to completion
    spark.sql(s"CALL $cat.system.optimize(table => 'db.t', " +
      "target_file_count => 2)")
    spark.sql(s"UPDATE $cat.db.t SET v = 0 WHERE id = 3")
    assert(spark.sql(s"SELECT v FROM $cat.db.t WHERE id = 3")
      .head.getLong(0) === 0L)
    // and the lock does not linger after a successful operation
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(path).resolve("_MAINT_LOCK")))
  }

  test("a DEAD holder's expired lease is stealable; release ignores it") {
    val path = tempDir("graft_mlock_exp_").toString
    val stale = AuditMaintLock.acquire(path, "optimize")
    // a LIVE holder never expires (heartbeat); simulate the crash first
    AuditMaintLock.simulateCrash(path, stale)
    sys.props("graft.audit.maintLeaseMs") = "1"
    try {
      Thread.sleep(5)
      val thief = AuditMaintLock.acquire(path, "vacuum")
      // the original holder's release must NOT delete the thief's claim
      AuditMaintLock.release(path, stale)
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(path).resolve("_MAINT_LOCK")))
      // ...and the original holder's publish-step verify fails LOUDLY
      val ex = intercept[IllegalStateException](
        AuditMaintLock.verifyHeld(path, stale, "base publish"))
      assert(ex.getMessage.contains("no longer holds"), ex.getMessage)
      AuditMaintLock.release(path, thief)
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(path).resolve("_MAINT_LOCK")))
    } finally sys.props.remove("graft.audit.maintLeaseMs")
  }

  test("heartbeat: an operation outliving the TTL keeps its lease") {
    val path = tempDir("graft_mlock_hb_").toString
    sys.props("graft.audit.maintLeaseMs") = "120"
    try {
      val held = AuditMaintLock.acquire(path, "optimize")
      // run PAST the TTL: renewals (every TTL/3) keep the claim fresh,
      // so a second operation is STILL rejected mid-operation
      Thread.sleep(400)
      val ex = intercept[IllegalStateException](
        AuditMaintLock.acquire(path, "vacuum"))
      assert(ex.getMessage.contains("holds the maintenance lease"),
        ex.getMessage)
      // the long-running holder still verifies green at publish time
      AuditMaintLock.verifyHeld(path, held, "publish")
      AuditMaintLock.release(path, held)
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(path).resolve("_MAINT_LOCK")))
    } finally sys.props.remove("graft.audit.maintLeaseMs")
  }

  test("lease loss mid-operation is detected before publish, loudly") {
    val path = tempDir("graft_mlock_loss_").toString
    sys.props("graft.audit.maintLeaseMs") = "80"
    try {
      val frozen = AuditMaintLock.acquire(path, "optimize")
      // the op FREEZES (GC pause / network partition): no renewals
      AuditMaintLock.simulateCrash(path, frozen)
      Thread.sleep(120)
      // a second op legitimately claims the expired lease and finishes
      val thief = AuditMaintLock.acquire(path, "vacuum")
      AuditMaintLock.release(path, thief)
      // the frozen op RESUMES and tries to publish: even though the
      // thief already released (lock file GONE — the subtle case),
      // ownership verification must refuse the publish
      val ex = intercept[IllegalStateException](
        AuditMaintLock.verifyHeld(path, frozen, "dir swap"))
      assert(ex.getMessage.contains("no longer holds"), ex.getMessage)
    } finally sys.props.remove("graft.audit.maintLeaseMs")
  }

  test("a steal cannot stomp a FRESH claim that replaced expired debris") {
    // the TOCTOU: claimant B reads an EXPIRED lock, then claimant A
    // retires it and claims; B's retirement must detect the fresh
    // content and restore A's claim instead of replacing it
    val path = tempDir("graft_mlock_cas2_").toString
    val lock = java.nio.file.Paths.get(path).resolve("_MAINT_LOCK")
    sys.props("graft.audit.maintLeaseMs") = "60000"
    try {
      // expired debris on disk
      java.nio.file.Files.write(lock,
        s"""{"op":"dead-op","ts":${System.currentTimeMillis() - 120000}}"""
          .getBytes("UTF-8"))
      // A claims the expired lease (retire + fresh claim)
      val a = AuditMaintLock.acquire(path, "optimize")
      // B, who (conceptually) read the expired content before A's claim,
      // now attempts the same steal: must refuse — the lock is fresh
      val ex = intercept[IllegalStateException](
        AuditMaintLock.acquire(path, "vacuum"))
      assert(ex.getMessage.contains("holds the maintenance lease"),
        ex.getMessage)
      // A's claim is intact and verifiable
      AuditMaintLock.verifyHeld(path, a, "publish")
      AuditMaintLock.release(path, a)
    } finally sys.props.remove("graft.audit.maintLeaseMs")
  }

  test("renewal never removes the live claim: no steal-from-healthy window") {
    // the round-15 renewal CAS moved _MAINT_LOCK away before recreating
    // it, so every heartbeat opened a window where acquire() saw "no
    // lock" and could claim instantly — theft from a HEALTHY holder.
    // The sidecar renewal never touches the claim file: across many
    // heartbeat periods the lock stays continuously present and every
    // concurrent acquire refuses.
    val path = tempDir("graft_mlock_hb2_").toString
    // lease 300 ms / heartbeat every 100 ms: the 60 ms lease this test
    // originally used left only 40 ms of renewal slack — INSIDE the
    // normal GC-pause/scheduler-starvation band of a busy test JVM, so
    // the test occasionally observed a legitimate expiry-steal and
    // called it theft (flaked once under the nested object-store run).
    // The property under test is "renewal keeps a HEALTHY holder's
    // lease", and healthy means the heartbeat thread actually runs;
    // 200 ms of slack models that without slowing the suite much.
    sys.props("graft.audit.maintLeaseMs") = "300"
    try {
      val held = AuditMaintLock.acquire(path, "optimize")
      val lock = java.nio.file.Paths.get(path).resolve("_MAINT_LOCK")
      val deadline = System.currentTimeMillis() + 1200 // ~12 renewals
      var absences = 0
      var steals = 0
      while (System.currentTimeMillis() < deadline) {
        if (!java.nio.file.Files.exists(lock)) absences += 1
        try { AuditMaintLock.acquire(path, "vacuum"); steals += 1 }
        catch { case _: IllegalStateException => () }
        Thread.sleep(1)
      }
      assert(absences === 0, s"claim file absent $absences times mid-lease")
      assert(steals === 0, s"a healthy holder was stolen from $steals times")
      AuditMaintLock.verifyHeld(path, held, "publish")
      AuditMaintLock.release(path, held)
      // release cleans both the claim and the heartbeat sidecar
      val left = java.nio.file.Files.list(java.nio.file.Paths.get(path))
      try assert(!left.iterator().asScala.exists(p =>
        p.getFileName.toString.startsWith("_MAINT")), "lock debris left")
      finally left.close()
    } finally sys.props.remove("graft.audit.maintLeaseMs")
  }

  test("acquire is compare-and-swap: the on-disk claim is the returned op") {
    val path = tempDir("graft_mlock_cas_").toString
    val id = AuditMaintLock.acquire(path, "optimize")
    val lock = java.nio.file.Paths.get(path).resolve("_MAINT_LOCK")
    val content = new String(java.nio.file.Files.readAllBytes(lock), "UTF-8")
    assert(content.contains(s""""op":"$id""""), content)
    // a claim overwritten by a racing thief (simulated) makes release a no-op
    java.nio.file.Files.write(lock,
      s"""{"op":"intruder-1","ts":${System.currentTimeMillis()}}"""
        .getBytes("UTF-8"))
    AuditMaintLock.release(path, id)
    assert(java.nio.file.Files.exists(lock))
  }
}
