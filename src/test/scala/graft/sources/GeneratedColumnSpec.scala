package graft.sources

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkSpec, TempDirs}

/** GENERATED / IDENTITY columns, materialized engine-side: Spark 4.1
  * parses + validates the DDL (capability-gated) and the audit write
  * path computes the values — bound catalyst expressions per row for
  * generated columns, per-commit block reservation for identity. */
class GeneratedColumnSpec extends AnyFunSuite with TempDirs {

  private lazy val spark: SparkSession = SparkSpec.session

  private def freshCat(tag: String): (String, java.nio.file.Path) = {
    val wh = tempDir(s"graft_gen_${tag}_")
    val cat = s"graft_gen_$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.toString)
    (cat, wh)
  }

  test("generated columns compute on INSERT; explicit values must agree") {
    val (cat, _) = freshCat("basic")
    spark.sql(
      s"""CREATE TABLE $cat.db.g (c BIGINT, label STRING,
         |  twice BIGINT GENERATED ALWAYS AS (c * 2),
         |  tag STRING GENERATED ALWAYS AS (concat(label, '-', c)))
         |USING audit""".stripMargin)
    spark.sql(s"INSERT INTO $cat.db.g (c, label) " +
      "SELECT id, concat('r', id) FROM range(0, 20)")
    val rows = spark.sql(s"SELECT c, twice, tag FROM $cat.db.g ORDER BY c")
      .collect()
    assert(rows.forall(r => r.getLong(1) === r.getLong(0) * 2))
    assert(rows.forall(r => r.getString(2) === s"r${r.getLong(0)}-${r.getLong(0)}"))
    // an explicit MATCHING value passes; a diverging one fails loudly
    spark.sql(s"INSERT INTO $cat.db.g VALUES (100, 'x', 200, 'x-100')")
    assert(spark.table(s"$cat.db.g").count() === 21L)
    val ex = intercept[Exception](
      spark.sql(s"INSERT INTO $cat.db.g VALUES (101, 'y', 999, 'y-101')"))
    assert(ex.getMessage != null)
    assert(spark.table(s"$cat.db.g").count() === 21L) // aborted clean
  }

  test("generated columns recompute through delta UPDATE/MERGE") {
    val (cat, _) = freshCat("dml")
    spark.sql(
      s"""CREATE TABLE $cat.db.g (c BIGINT,
         |  twice BIGINT GENERATED ALWAYS AS (c * 2)) USING audit""".stripMargin)
    spark.sql(s"INSERT INTO $cat.db.g (c) SELECT id FROM range(0, 10)")
    // UPDATE of a referenced column must move the generated value
    spark.sql(s"UPDATE $cat.db.g SET c = c + 100 WHERE c < 3")
    val after = spark.sql(s"SELECT c, twice FROM $cat.db.g").collect()
    assert(after.forall(r => r.getLong(1) === r.getLong(0) * 2))
    assert(after.count(_.getLong(0) >= 100) === 3)
    // MERGE insert computes too
    spark.range(500, 502).toDF("c").createOrReplaceTempView("gen_src")
    spark.sql(
      s"""MERGE INTO $cat.db.g t USING gen_src s ON t.c = s.c
         |WHEN NOT MATCHED THEN INSERT (c) VALUES (s.c)""".stripMargin)
    assert(spark.sql(s"SELECT twice FROM $cat.db.g WHERE c = 501")
      .head.getLong(0) === 1002L)
  }

  test("a generated column can BE the partition column (routing sees it)") {
    val (cat, wh) = freshCat("part")
    spark.sql(
      s"""CREATE TABLE $cat.db.p (id BIGINT,
         |  bucketed BIGINT GENERATED ALWAYS AS (id % 4))
         |USING audit PARTITIONED BY (bucketed)""".stripMargin)
    spark.sql(s"INSERT INTO $cat.db.p (id) SELECT id FROM range(0, 40)")
    val dirs = AuditPartition
      .listDirsByCols(wh.resolve("db/p").toString, Seq("bucketed"))
    assert(dirs.map(_._1).toSet ===
      Set("bucketed=0", "bucketed=1", "bucketed=2", "bucketed=3"))
    assert(spark.table(s"$cat.db.p").where("bucketed = 2").count() === 10L)
  }

  test("identity columns: unique step-aligned values across commits") {
    val (cat, _) = freshCat("ident")
    spark.sql(
      s"""CREATE TABLE $cat.db.i (
         |  id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 10
         |    INCREMENT BY 5),
         |  v STRING) USING audit""".stripMargin)
    spark.sql(s"INSERT INTO $cat.db.i (v) SELECT concat('a', id) " +
      "FROM range(0, 100)")
    spark.sql(s"INSERT INTO $cat.db.i (v) SELECT concat('b', id) " +
      "FROM range(0, 100)")
    val ids = spark.sql(s"SELECT id FROM $cat.db.i").collect()
      .map(_.getLong(0))
    assert(ids.length === 200 && ids.distinct.length === 200,
      "identity values must be unique across commits")
    assert(ids.forall(i => i >= 10 && (i - 10) % 5 == 0),
      "identity values must be start + step * k")
    // GENERATED ALWAYS refuses explicit values
    val ex = intercept[Exception](
      spark.sql(s"INSERT INTO $cat.db.i VALUES (777, 'explicit')"))
    assert(ex.getMessage != null)
  }

  test("identity columns survive delta UPDATE and allocate on MERGE insert") {
    val (cat, _) = freshCat("identdml")
    spark.sql(
      s"""CREATE TABLE $cat.db.i (
         |  id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 10
         |    INCREMENT BY 5),
         |  v STRING) USING audit""".stripMargin)
    spark.sql(s"INSERT INTO $cat.db.i (v) SELECT concat('a', id) " +
      "FROM range(0, 50)")
    val before = spark.sql(s"SELECT v, id FROM $cat.db.i").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    // UPDATE keeps each row's EXISTING identity value (scan-carried)
    spark.sql(s"UPDATE $cat.db.i SET v = concat(v, '!') WHERE v < 'a2'")
    val after = spark.sql(s"SELECT v, id FROM $cat.db.i").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(after("a0!") === before("a0") && after("a19!") === before("a19"))
    assert(after("a30") === before("a30"))
    // MERGE insert allocates fresh, unique, step-aligned values
    spark.range(0, 3).selectExpr("concat('m', id) AS v")
      .createOrReplaceTempView("ident_src")
    spark.sql(
      s"""MERGE INTO $cat.db.i t USING ident_src s ON t.v = s.v
         |WHEN NOT MATCHED THEN INSERT (v) VALUES (s.v)""".stripMargin)
    val ids = spark.sql(s"SELECT id FROM $cat.db.i").collect()
      .map(_.getLong(0))
    assert(ids.length === 53 && ids.distinct.length === 53,
      "identity stays unique across INSERT + UPDATE + MERGE")
    assert(ids.forall(i => i >= 10 && (i - 10) % 5 == 0))
    // DELETE through the delta path leaves survivors' identities intact
    spark.sql(s"DELETE FROM $cat.db.i WHERE v = 'm1'")
    val left = spark.sql(s"SELECT v, id FROM $cat.db.i WHERE v LIKE 'm%'")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(left.keySet === Set("m0", "m2"))
    assert(left.values.toSeq.distinct.length === 2)
  }

  test("GENERATED ALWAYS identity refuses UPDATE/MERGE assignments") {
    val (cat, _) = freshCat("lock")
    spark.sql(
      s"""CREATE TABLE $cat.db.l (
         |  id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 10
         |    INCREMENT BY 5),
         |  v STRING) USING audit""".stripMargin)
    spark.sql(s"INSERT INTO $cat.db.l (v) SELECT concat('a', id) " +
      "FROM range(0, 20)")
    val before = spark.sql(s"SELECT v, id FROM $cat.db.l").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    // UPDATE cannot assign the identity column — rejected loudly, the
    // whole statement aborts, and nothing changed
    val ex1 = intercept[Exception](
      spark.sql(s"UPDATE $cat.db.l SET id = 424242 WHERE v = 'a3'"))
    assert(ex1.toString.contains("identity") ||
      Option(ex1.getCause).exists(_.toString.contains("identity")))
    assert(spark.sql(s"SELECT id FROM $cat.db.l WHERE v = 'a3'")
      .head.getLong(0) === before("a3"))
    // a MERGE matched-UPDATE assigning the identity column is rejected too
    spark.createDataFrame(Seq(("a5", 777L))).toDF("v", "newid")
      .createOrReplaceTempView("lock_upd_src")
    val ex2 = intercept[Exception](spark.sql(
      s"""MERGE INTO $cat.db.l t USING lock_upd_src s ON t.v = s.v
         |WHEN MATCHED THEN UPDATE SET id = s.newid""".stripMargin))
    assert(ex2.toString.contains("identity") ||
      Option(ex2.getCause).exists(_.toString.contains("identity")))
    assert(spark.sql(s"SELECT id FROM $cat.db.l WHERE v = 'a5'")
      .head.getLong(0) === before("a5"))
    // a MERGE insert with an EXPLICIT identity value is rejected
    // (GENERATED ALWAYS — same rule as INSERT INTO)
    spark.createDataFrame(Seq(("zz", 999L))).toDF("v", "newid")
      .createOrReplaceTempView("lock_ins_src")
    val ex3 = intercept[Exception](spark.sql(
      s"""MERGE INTO $cat.db.l t USING lock_ins_src s ON t.v = s.v
         |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.newid, s.v)""".stripMargin))
    assert(ex3.toString.contains("identity") ||
      Option(ex3.getCause).exists(_.toString.contains("identity")))
    assert(spark.table(s"$cat.db.l").count() === 20L)
    // a no-op self-assignment is accepted (value does not diverge)
    spark.sql(s"UPDATE $cat.db.l SET v = concat(v, '!') WHERE v = 'a7'")
    assert(spark.sql(s"SELECT id FROM $cat.db.l WHERE v = 'a7!'")
      .head.getLong(0) === before("a7"))
  }

  test("spark.table() surfaces generation/identity specs in field metadata") {
    val (cat, _) = freshCat("meta")
    spark.sql(
      s"""CREATE TABLE $cat.db.m (
         |  id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 10
         |    INCREMENT BY 5),
         |  c BIGINT,
         |  twice BIGINT GENERATED ALWAYS AS (c * 2)) USING audit""".stripMargin)
    // Spark strips its own spec keys into Column attributes — the
    // graft.* mirror keys survive onto the relation schema, so a user
    // can introspect the specs without the catalog escape hatch
    val fields = spark.table(s"$cat.db.m").schema.fields
      .map(f => (f.name, f.metadata)).toMap
    assert(fields("id").getLong("graft.identity.start") === 10L)
    assert(fields("id").getLong("graft.identity.step") === 5L)
    assert(!fields("id").getBoolean("graft.identity.allow_explicit_insert"))
    assert(fields("twice").getString("graft.generated_always_as")
      .contains("c * 2"))
    assert(!fields("c").contains("graft.generated_always_as"))
  }

  test("GENERATED BY DEFAULT identity allows UPDATE assignments") {
    val (cat, _) = freshCat("bydefupd")
    spark.sql(
      s"""CREATE TABLE $cat.db.d (
         |  id BIGINT GENERATED BY DEFAULT AS IDENTITY, v STRING)
         |USING audit""".stripMargin)
    spark.sql(s"INSERT INTO $cat.db.d (v) VALUES ('x'), ('y')")
    // BY DEFAULT identity is user-assignable — UPDATE goes through
    spark.sql(s"UPDATE $cat.db.d SET id = 4242 WHERE v = 'x'")
    assert(spark.sql(s"SELECT id FROM $cat.db.d WHERE v = 'x'")
      .head.getLong(0) === 4242L)
  }

  test("a task outrunning its identity slice reserves a fresh block") {
    // the per-task slice is 2^20 k-values; a huge COALESCED insert must
    // roll over to a freshly reserved block, not throw mid-write
    sys.props("graft.audit.identityTaskRows") = "100"
    try {
      val (cat, _) = freshCat("over")
      spark.sql(
        s"""CREATE TABLE $cat.db.o (
           |  id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 3
           |    INCREMENT BY 2), v BIGINT) USING audit""".stripMargin)
      // single task, 350 rows >> 100-row slice → 3 extra reservations
      spark.range(0, 350).coalesce(1).selectExpr("id AS v")
        .createOrReplaceTempView("gen_over_src")
      spark.sql(s"INSERT INTO $cat.db.o (v) SELECT v FROM gen_over_src")
      val ids = spark.sql(s"SELECT id FROM $cat.db.o").collect()
        .map(_.getLong(0))
      assert(ids.length === 350 && ids.distinct.length === 350,
        "identity stays unique across intra-task block rollovers")
      assert(ids.forall(i => i >= 3 && (i - 3) % 2 == 0))
    } finally sys.props.remove("graft.audit.identityTaskRows")
  }

  test("GENERATED BY DEFAULT AS IDENTITY accepts explicit values") {
    val (cat, _) = freshCat("bydef")
    spark.sql(
      s"""CREATE TABLE $cat.db.d (
         |  id BIGINT GENERATED BY DEFAULT AS IDENTITY, v STRING)
         |USING audit""".stripMargin)
    spark.sql(s"INSERT INTO $cat.db.d VALUES (42, 'explicit')")
    spark.sql(s"INSERT INTO $cat.db.d (v) VALUES ('assigned')")
    val rows = spark.table(s"$cat.db.d").collect()
      .map(r => (r.getString(1), r.getLong(0))).toMap
    assert(rows("explicit") === 42L)
    assert(rows("assigned") >= 1L)
  }

  test("identity columns on a PARTITIONED table: routing, DML, sync") {
    val (cat, wh) = freshCat("identp")
    spark.sql(
      s"""CREATE TABLE $cat.db.p (
         |  id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 1
         |    INCREMENT BY 2),
         |  flag BIGINT, v STRING) USING audit
         |PARTITIONED BY (flag)""".stripMargin)
    spark.sql(s"INSERT INTO $cat.db.p (flag, v) " +
      "SELECT id % 3, concat('r', id) FROM range(0, 90)")
    val dirs = AuditPartition
      .listDirsByCols(wh.resolve("db/p").toString, Seq("flag"))
    assert(dirs.map(_._1).toSet === Set("flag=0", "flag=1", "flag=2"))
    val ids0 = spark.sql(s"SELECT id FROM $cat.db.p").collect()
      .map(_.getLong(0))
    assert(ids0.length === 90 && ids0.distinct.length === 90)
    assert(ids0.forall(i => i >= 1 && (i - 1) % 2 == 0))
    // delta MERGE: updates keep identities while rows MOVE across dirs;
    // inserts allocate fresh values into their routed dir
    val before = spark.sql(s"SELECT v, id FROM $cat.db.p WHERE v = 'r7'")
      .head.getLong(1)
    spark.sql(s"UPDATE $cat.db.p SET flag = 9 WHERE v = 'r7'")
    val moved = spark.sql(
      s"SELECT flag, id FROM $cat.db.p WHERE v = 'r7'").head
    assert(moved.getLong(0) === 9L && moved.getLong(1) === before,
      "a cross-partition move must keep the row's identity")
    spark.range(0, 2).selectExpr("concat('m', id) AS v",
      "CAST(5 AS BIGINT) AS flag").createOrReplaceTempView("identp_src")
    spark.sql(
      s"""MERGE INTO $cat.db.p t USING identp_src s ON t.v = s.v
         |WHEN NOT MATCHED THEN INSERT (flag, v) VALUES (s.flag, s.v)""".stripMargin)
    val all = spark.sql(s"SELECT id FROM $cat.db.p").collect()
      .map(_.getLong(0))
    assert(all.length === 92 && all.distinct.length === 92)
    assert(spark.table(s"$cat.db.p").where("flag = 5").count() === 2L)
    // sync_identity works on the partitioned layout too
    val res = spark.sql(
      s"CALL $cat.system.sync_identity(table => 'db.p')").collect()
    assert(res.length === 1 && res.head.getString(1) === "id")
  }

  test("sync_identity raises the allocator past explicit BY-DEFAULT values") {
    val (cat, _) = freshCat("sync")
    spark.sql(
      s"""CREATE TABLE $cat.db.s (
         |  id BIGINT GENERATED BY DEFAULT AS IDENTITY (START WITH 0
         |    INCREMENT BY 1), v STRING) USING audit""".stripMargin)
    spark.sql(s"INSERT INTO $cat.db.s (v) VALUES ('assigned0')")
    // explicit values ABOVE the allocator's horizon (well past any
    // already-reserved block) — future allocations would collide
    // without a sync
    val hi = 10L * (1L << 33)
    spark.sql(s"INSERT INTO $cat.db.s VALUES " +
      s"($hi, 'explicit-hi'), (${hi + 1}, 'explicit-hi2')")
    val res = spark.sql(
      s"CALL $cat.system.sync_identity(table => 'db.s')").collect()
    assert(res.length === 1 && res.head.getString(1) === "id")
    assert(res.head.getLong(2) === hi + 2,
      s"next_value must clear the explicit maximum, got ${res.head}")
    spark.sql(s"INSERT INTO $cat.db.s (v) VALUES ('post-sync')")
    val ids = spark.table(s"$cat.db.s").collect().map(_.getLong(0))
    assert(ids.length === 4 && ids.distinct.length === 4)
    val post = spark.sql(
      s"SELECT id FROM $cat.db.s WHERE v = 'post-sync'").head.getLong(0)
    assert(post >= hi + 2,
      s"post-sync allocation must not reuse explicit values, got $post")
    // a table with no identity columns refuses loudly
    spark.sql(s"CREATE TABLE $cat.db.plain (x BIGINT) USING audit")
    val ex = intercept[Exception](
      spark.sql(s"CALL $cat.system.sync_identity(table => 'db.plain')"))
    assert(ex.getMessage.contains("no identity columns"), ex.getMessage)
  }

  test("guards: rename/drop of a referenced column refused; streaming refused") {
    val (cat, _) = freshCat("guard")
    spark.sql(
      s"""CREATE TABLE $cat.db.g (c BIGINT,
         |  twice BIGINT GENERATED ALWAYS AS (c * 2)) USING audit""".stripMargin)
    val ex = intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.db.g RENAME COLUMN c TO c2"))
    assert(ex.getMessage.contains("generation expression"), ex.getMessage)
    // the guard resolves identifiers, not text: a CASE-different
    // reference still blocks; a name inside a string LITERAL does not
    spark.sql(
      s"""CREATE TABLE $cat.db.cased (foo BIGINT,
         |  up BIGINT GENERATED ALWAYS AS (FOO * 2)) USING audit""".stripMargin)
    val exCase = intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.db.cased RENAME COLUMN foo TO bar"))
    assert(exCase.getMessage.contains("generation expression"),
      exCase.getMessage)
    spark.sql(
      s"""CREATE TABLE $cat.db.lit (foo BIGINT, other BIGINT,
         |  tag STRING GENERATED ALWAYS AS (concat('foo-', other)))
         |USING audit""".stripMargin)
    // 'foo' appears only inside a literal — renaming foo is legal
    spark.sql(s"ALTER TABLE $cat.db.lit RENAME COLUMN foo TO renamed_ok")
    assert(spark.table(s"$cat.db.lit").columns.contains("renamed_ok"))
    // streaming writes COMPUTE generated columns (deterministic per row,
    // so epoch replays stay idempotent) — supply NULL, read back computed
    val ckpt = tempDir("graft_gen_ckpt")
    val q = spark.readStream.format(classOf[PagedSource].getName)
      .option("pages", "1").option("pageSize", "10").load()
      .select(org.apache.spark.sql.functions.col("id").as("c"),
        org.apache.spark.sql.functions.lit(null)
          .cast("bigint").as("twice"))
      .writeStream.option("checkpointLocation", ckpt.toString)
      .outputMode("append").toTable(s"$cat.db.g")
    try q.processAllAvailable() finally q.stop()
    val srows = spark.sql(s"SELECT c, twice FROM $cat.db.g").collect()
    assert(srows.length === 10)
    assert(srows.forall(r => r.getLong(1) === r.getLong(0) * 2))
    // IDENTITY columns allocate lazily per (task, epoch) in streaming
    spark.sql(
      s"""CREATE TABLE $cat.db.i (c BIGINT,
         |  id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 7
         |    INCREMENT BY 3)) USING audit""".stripMargin)
    val ckpt2 = tempDir("graft_gen_ckpt2")
    val q2 = spark.readStream.format(classOf[PagedSource].getName)
      .option("pages", "3").option("pageSize", "50")
      .option("pagesPerTrigger", "1").load()
      .select(org.apache.spark.sql.functions.col("id").as("c"),
        org.apache.spark.sql.functions.lit(null).cast("bigint").as("id"))
      .writeStream.option("checkpointLocation", ckpt2.toString)
      .outputMode("append").toTable(s"$cat.db.i")
    try q2.processAllAvailable() finally q2.stop()
    val sids = spark.sql(s"SELECT id FROM $cat.db.i").collect()
      .map(_.getLong(0))
    assert(sids.length === 150 && sids.distinct.length === 150,
      "streamed identity values must be unique across epochs and tasks")
    assert(sids.forall(i => i >= 7 && (i - 7) % 3 == 0))
    // ...and a batch INSERT after streaming keeps allocating uniquely
    spark.sql(s"INSERT INTO $cat.db.i (c) SELECT id FROM range(0, 20)")
    val allIds = spark.sql(s"SELECT id FROM $cat.db.i").collect()
      .map(_.getLong(0))
    assert(allIds.length === 170 && allIds.distinct.length === 170)
  }
}
