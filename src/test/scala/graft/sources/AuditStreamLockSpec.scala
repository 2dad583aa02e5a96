package graft.sources

import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** One live streaming writer per audit table: epochs are the idempotent
  * replay key and the time-travel axis, so a second concurrent streaming
  * query is rejected LOUDLY via the `_STREAM_LOCK` lease — while the
  * same query (checkpoint-stable queryId) re-acquires freely across
  * restarts, and an expired lease (crashed writer) is stealable. */
class AuditStreamLockSpec extends AnyFunSuite {

  private val schema = StructType(Seq(StructField("x", LongType)))

  private def tempDir() =
    java.nio.file.Files.createTempDirectory("graft_slock_")

  private def writer(dir: java.nio.file.Path, qid: String) =
    new AuditStreamingWrite(dir.toString, schema, Set.empty, Some(qid))

  private def stage(dir: java.nio.file.Path, w: AuditStreamingWrite,
      name: String): AuditCommitMessage = {
    val sub = dir.resolve("_staging").resolve(w.stageSub)
    java.nio.file.Files.createDirectories(sub)
    java.nio.file.Files.write(sub.resolve(name), "{\"x\":1}\n".getBytes("UTF-8"))
    AuditCommitMessage(Seq(("", name, 1L, AuditStats.FileStats.empty)))
  }

  test("a second live streaming query is rejected loudly") {
    val dir = tempDir()
    val a = writer(dir, "query-A")
    a.commit(0L, Array(stage(dir, a, "stage-00000-1.jsonl")))
    val b = writer(dir, "query-B")
    val msg = stage(dir, b, "stage-00000-2.jsonl")
    val ex = intercept[IllegalStateException](b.commit(0L, Array(msg)))
    assert(ex.getMessage.contains("query-A"), ex.getMessage)
    assert(ex.getMessage.contains("lease"), ex.getMessage)
    // A's data is intact: B never reached the retraction/publish phase
    assert(java.nio.file.Files.exists(dir.resolve("part-e0-00000.jsonl")))
  }

  test("the same query re-acquires across restarts; commits keep working") {
    val dir = tempDir()
    val a1 = writer(dir, "query-A")
    a1.commit(0L, Array(stage(dir, a1, "stage-00000-1.jsonl")))
    // restart: NEW write instance, SAME checkpoint-stable queryId
    val a2 = writer(dir, "query-A")
    a2.commit(1L, Array(stage(dir, a2, "stage-00000-2.jsonl")))
    val epochs = java.nio.file.Files.readAllLines(dir.resolve("_EPOCHS"))
    assert(epochs.size === 2, epochs)
  }

  test("an expired lease (crashed writer) is stealable") {
    val dir = tempDir()
    val a = writer(dir, "query-A")
    a.commit(0L, Array(stage(dir, a, "stage-00000-1.jsonl")))
    // age the lease past expiry: rewrite its timestamp into the past
    val lock = dir.resolve("_STREAM_LOCK")
    val stale = s"""{"query":"query-A","ts":${
      System.currentTimeMillis() - AuditStreamLock.leaseMs - 1000}}"""
    java.nio.file.Files.write(lock, stale.getBytes("UTF-8"))
    val b = writer(dir, "query-B")
    b.commit(7L, Array(stage(dir, b, "stage-00000-9.jsonl")))
    assert(new String(java.nio.file.Files.readAllBytes(lock), "UTF-8")
      .contains("query-B"))
  }

  test("the partitioned streaming writer enforces the same lease") {
    val dir = tempDir()
    val pschema = StructType(Seq(
      StructField("x", LongType), StructField("p", LongType)))
    val a = new AuditPartitionedStreamingWrite(
      dir.toString, pschema, Seq(AuditPartition.Level("p", LongType, None)),
      Some("query-A"))
    val subA = dir.resolve("_staging").resolve(a.stageSub)
    java.nio.file.Files.createDirectories(subA)
    java.nio.file.Files.write(subA.resolve("stage-1.jsonl"),
      "{\"x\":1,\"p\":0}\n".getBytes("UTF-8"))
    a.commit(0L, Array(AuditCommitMessage(
      Seq(("p=0", "stage-1.jsonl", 1L, AuditStats.FileStats.empty)))))
    val b = new AuditPartitionedStreamingWrite(
      dir.toString, pschema, Seq(AuditPartition.Level("p", LongType, None)),
      Some("query-B"))
    val ex = intercept[IllegalStateException](
      b.commit(0L, Array(AuditCommitMessage(Seq.empty))))
    assert(ex.getMessage.contains("query-A"), ex.getMessage)
  }
}
