package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkSpec, TempDirs}

/** Mixed-table TIMESTAMP AS OF: commit-time travel across streaming
  * epochs, OCC batch `_TXN` appends and delta-DML delete vectors — and
  * the LOUD refusals whenever part of the history cannot be placed on
  * the commit-time axis (silently excluding a vintage would misanswer
  * the audit question the feature exists for). The happy-path content
  * reconstruction is oracle-checked end to end by q_audit_travel_mixed;
  * this spec drives the boundary and refusal semantics. */
class AuditTravelMixedSpec extends AnyFunSuite with TempDirs {

  private lazy val spark: SparkSession = SparkSpec.session

  private def freshCat(tag: String): (String, java.nio.file.Path) = {
    val wh = tempDir(s"graft_tmix_${tag}_")
    val cat = s"graft_tmix_$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.toString)
    (cat, wh)
  }

  test("a travel instant between a batch append and now sees the append") {
    val (cat, wh) = freshCat("basic")
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, v BIGINT) USING audit")
    spark.sql(s"INSERT INTO $cat.db.t SELECT id, id * 10 FROM range(100)")
    Thread.sleep(5)
    val path = wh.resolve("db/t").toString
    val tAfterA = AuditBase.readManifest(path).flatMap(_.ts).max
    Thread.sleep(5)
    spark.sql(s"INSERT INTO $cat.db.t SELECT id + 500, id FROM range(50)")
    // current state sees both appends; the pinned instant only the first
    assert(spark.table(s"$cat.db.t").count() === 150L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.t " +
      s"TIMESTAMP AS OF timestamp_millis($tAfterA)").head.getLong(0) === 100L)
    // travel BEFORE any commit is loud, not empty
    val ex = intercept[Exception](spark.sql(
      s"SELECT count(*) FROM $cat.db.t " +
        s"TIMESTAMP AS OF timestamp_millis(${tAfterA - 100000})").collect())
    assert(ex.getMessage.contains("no commit at or before"), ex.getMessage)
  }

  test("DML vectors resolve on the commit-time axis (pre/post UPDATE)") {
    val (cat, wh) = freshCat("dml")
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, v BIGINT) USING audit")
    spark.sql(s"INSERT INTO $cat.db.t SELECT id, id FROM range(100)")
    Thread.sleep(5)
    val path = wh.resolve("db/t").toString
    val tPre = AuditBase.readManifest(path).flatMap(_.ts).max
    Thread.sleep(5)
    spark.sql(s"UPDATE $cat.db.t SET v = 999 WHERE id % 10 = 3")
    Thread.sleep(5)
    val tPost = System.currentTimeMillis()
    // pre-DML instant: original values, no vectors applied, no
    // replacement rows — 100 rows, none with v=999
    val pre = spark.sql(s"SELECT count(*) AS n, sum(v) AS s FROM $cat.db.t " +
      s"TIMESTAMP AS OF timestamp_millis($tPre)").head
    assert(pre.getLong(0) === 100L && pre.getLong(1) === 4950L)
    // post-DML instant: the UPDATE's vectors and replacement rows appear
    // TOGETHER (one commit ts) — still 100 rows, 10 of them v=999
    val post = spark.sql(s"SELECT count(*) AS n, sum(v) AS s FROM $cat.db.t " +
      s"TIMESTAMP AS OF timestamp_millis($tPost)").head
    assert(post.getLong(0) === 100L)
    assert(post.getLong(1) === 4950L - (3 + 13 + 23 + 33 + 43 + 53 + 63 +
      73 + 83 + 93) + 10 * 999)
  }

  test("a compacted mixed table resolves commit-time travel by origin") {
    val (cat, wh) = freshCat("base")
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, v BIGINT) USING audit")
    spark.sql(s"INSERT INTO $cat.db.t SELECT id, id FROM range(100)")
    Thread.sleep(5)
    val path = wh.resolve("db/t").toString
    val tA = AuditBase.readManifest(path).flatMap(_.ts).max
    Thread.sleep(5)
    spark.sql(s"UPDATE $cat.db.t SET v = 999 WHERE id % 10 = 3")
    Thread.sleep(5)
    val tU = System.currentTimeMillis()
    // compact: batch entries (the original insert AND the UPDATE's
    // replacement file) fold into the base — their commit times survive
    // in the folded manifest tombstones; vectors stay, keyed by origin
    spark.sql(s"CALL $cat.system.optimize(table => 'db.t', " +
      "target_file_count => 2)")
    Thread.sleep(5)
    spark.sql(s"INSERT INTO $cat.db.t SELECT id + 500, id FROM range(20)")
    // instant before the UPDATE: originals only, no vectors, no
    // replacement rows — all resolved FROM THE BASE by origin ts
    val pre = spark.sql(s"SELECT count(*) AS n, sum(v) AS s FROM $cat.db.t " +
      s"TIMESTAMP AS OF timestamp_millis($tA)").head
    assert(pre.getLong(0) === 100L && pre.getLong(1) === 4950L)
    // instant after the UPDATE, before compaction: updated state
    val upd = spark.sql(s"SELECT count(*) AS n, sum(v) AS s FROM $cat.db.t " +
      s"TIMESTAMP AS OF timestamp_millis($tU)").head
    assert(upd.getLong(0) === 100L)
    assert(upd.getLong(1) === 4950L - (3 to 93 by 10).sum + 10 * 999)
    // travel to now equals the current read (base + post-base append)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.t TIMESTAMP AS OF " +
      s"timestamp_millis(${System.currentTimeMillis()})")
      .head.getLong(0) === 120L)
    assert(spark.table(s"$cat.db.t").count() === 120L)
  }

  test("partitioned mixed tables resolve commit-time travel per directory") {
    val (cat, wh) = freshCat("part")
    spark.sql(s"CREATE TABLE $cat.db.p (id BIGINT, flag BIGINT, v BIGINT) " +
      "USING audit PARTITIONED BY (flag)")
    spark.sql(s"INSERT INTO $cat.db.p SELECT id, id % 3, id FROM range(90)")
    Thread.sleep(5)
    val path = wh.resolve("db/p").toString
    val t1 = AuditPartition.listDirsByCols(path, Seq("flag"))
      .flatMap { case (_, d) => AuditBase.readManifest(d.toString)
        .flatMap(_.ts) }.max
    Thread.sleep(5)
    spark.sql(s"INSERT INTO $cat.db.p SELECT id + 500, id % 3, id " +
      "FROM range(30)")
    // partitioned delta DML after the pinned instant (vectors + moves)
    spark.sql(s"UPDATE $cat.db.p SET v = 999 WHERE id % 30 = 7 AND id < 90")
    assert(spark.table(s"$cat.db.p").count() === 120L)
    // the instant between the appends sees only the first
    val pinned = spark.sql(s"SELECT count(*) AS n, sum(v) AS s " +
      s"FROM $cat.db.p TIMESTAMP AS OF timestamp_millis($t1)").head
    assert(pinned.getLong(0) === 90L && pinned.getLong(1) === (0L until 90L).sum)
    // composes with static partition pruning
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.p " +
      s"TIMESTAMP AS OF timestamp_millis($t1) WHERE flag = 1")
      .head.getLong(0) === 30L)
  }

  test("partitioned mixed tables pull startingTimestamp CDC per directory") {
    val (cat, wh) = freshCat("pcdc")
    spark.sql(s"CREATE TABLE $cat.db.p (id BIGINT, flag BIGINT, v BIGINT) " +
      "USING audit PARTITIONED BY (flag)")
    spark.sql(s"INSERT INTO $cat.db.p SELECT id, id % 3, id FROM range(90)")
    Thread.sleep(5)
    val path = wh.resolve("db/p").toString
    val t1 = AuditPartition.listDirsByCols(path, Seq("flag"))
      .flatMap { case (_, d) => AuditBase.readManifest(d.toString)
        .flatMap(_.ts) }.max + 1
    Thread.sleep(5)
    spark.sql(s"INSERT INTO $cat.db.p SELECT id + 500, id % 3, id " +
      "FROM range(30)")
    spark.sql(s"UPDATE $cat.db.p SET v = 999 WHERE id % 30 = 7 AND id < 90")
    val cdfSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("flag",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_commit_ts",
        org.apache.spark.sql.types.LongType)))
    val pull = spark.read.schema(cdfSchema)
      .format(classOf[JsonAuditSink].getName)
      .option("path", path).option("partitionby", "flag")
      .option("changeFeed", "true")
      .option("startingTimestamp", t1.toString).load()
    val byType = pull.groupBy("_change_type").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    // the pull sees ONLY the second append (30 inserts), the UPDATE's
    // replacements (ids 7,37,67 → 3 inserts) and its 3 deletes — the
    // first append's 90 rows are before the window, exactly once each
    assert(byType === Map("insert" -> 33L, "delete" -> 3L), byType.toString)
    // every event carries its commit ts (the puller's checkpoint)
    assert(pull.where(org.apache.spark.sql.functions
      .col("_commit_ts").isNull).count() === 0L)
  }

  test("startingTimestamp CDC pulls past an old base checkpoint") {
    val (cat, wh) = freshCat("cdcbase")
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, v BIGINT) USING audit")
    spark.sql(s"INSERT INTO $cat.db.t SELECT id, id FROM range(100)")
    spark.sql(s"CALL $cat.system.optimize(table => 'db.t', " +
      "target_file_count => 1)")
    Thread.sleep(5)
    val t1 = System.currentTimeMillis()
    Thread.sleep(5)
    spark.sql(s"INSERT INTO $cat.db.t SELECT id + 500, id FROM range(20)")
    val path = wh.resolve("db/t").toString
    val cdfSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType)))
    def pull(since: Long) = spark.read.schema(cdfSchema)
      .format(classOf[JsonAuditSink].getName)
      .option("path", path).option("changeFeed", "true")
      .option("startingTimestamp", since.toString).load()
    // the fold is BEFORE the window: the pull sees only the new append
    assert(pull(t1).count() === 20L)
    // a window reaching INTO the fold resolves through the base by
    // origin — the folded tombstones retain the commit times, so the
    // full history pulls with non-null _commit_ts on every event
    val full = spark.read.schema(org.apache.spark.sql.types.StructType(
      cdfSchema.fields :+ org.apache.spark.sql.types.StructField(
        "_commit_ts", org.apache.spark.sql.types.LongType)))
      .format(classOf[JsonAuditSink].getName)
      .option("path", path).option("changeFeed", "true")
      .option("startingTimestamp", "0").load()
    assert(full.count() === 120L)
    assert(full.where(org.apache.spark.sql.functions
      .col("_commit_ts").isNull).count() === 0L)
  }

  test("startingEpoch on a MIXED table translates onto the commit-time " +
    "axis: changes at/after the epoch's commit instant, exactly once") {
    val (cat, wh) = freshCat("epochmix")
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, v BIGINT) USING audit")
    val ckpt = tempDir("graft_tm_emck")
    val q = spark.readStream.format(classOf[PagedSource].getName)
      .option("pages", "2").option("pageSize", "100")
      .option("pagesPerTrigger", "1")
      .load().select(org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("id").as("v"))
      .writeStream.option("checkpointLocation", ckpt.toString)
      .outputMode("append").toTable(s"$cat.db.t")
    try q.processAllAvailable() finally q.stop()
    // mixed history AFTER the epochs: a batch append and delta DML
    spark.sql(s"INSERT INTO $cat.db.t SELECT id + 500, id FROM range(20)")
    spark.sql(s"DELETE FROM $cat.db.t WHERE id % 100 = 3")
    val path = wh.resolve("db/t").toString
    val cdfSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType)))
    def pull(sinceEpoch: Long) = spark.read.schema(cdfSchema)
      .format(classOf[JsonAuditSink].getName)
      .option("path", path).option("changeFeed", "true")
      .option("startingEpoch", sinceEpoch.toString).load()
    // since epoch 1: epoch 1's 100 inserts + the batch 20 + 3 deletes
    // (ids 3, 103, 503 — all committed after epoch 1's instant)
    val byType = pull(1L).groupBy("_change_type").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(byType === Map("insert" -> 120L, "delete" -> 3L), byType.toString)
    // since epoch 0: everything
    assert(pull(0L).count() === 223L)
    // beyond the epoch log: nothing (no commit at/after that epoch)
    assert(pull(99L).count() === 0L)
  }

  test("pre-commit-time batch history (no ts) refuses, not excludes") {
    val (cat, wh) = freshCat("legacy")
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT) USING audit")
    spark.sql(s"INSERT INTO $cat.db.t SELECT id FROM range(100)")
    val path = wh.resolve("db/t")
    // fold the txn into _MANIFEST, then strip the ts fields — simulating
    // a table written before commit-time stamping existed
    AuditBase.consolidate(path.toString)
    val mf = path.resolve("_MANIFEST")
    val stripped = new String(java.nio.file.Files.readAllBytes(mf), "UTF-8")
      .replaceAll(""","ts":\d+""", "")
    java.nio.file.Files.write(mf, stripped.getBytes("UTF-8"))
    val ex = intercept[Exception](spark.sql(
      s"SELECT count(*) FROM $cat.db.t " +
        s"TIMESTAMP AS OF timestamp_millis(${System.currentTimeMillis()})")
      .collect())
    assert(ex.getMessage.contains("carry no commit time"), ex.getMessage)
    // the current read is unaffected
    assert(spark.table(s"$cat.db.t").count() === 100L)
  }

  test("commit stamps are strictly monotonic across rapid-fire commits") {
    val (cat, wh) = freshCat("mono")
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, v BIGINT) USING audit")
    // rapid-fire appends + DML: several commits can land inside one
    // wall-clock millisecond — their stamps must STILL be strictly
    // increasing in durability order, or the CDC max+1 checkpoint
    // could silently skip a commit forever
    (0 until 5).foreach(i =>
      spark.sql(s"INSERT INTO $cat.db.t VALUES ($i, $i)"))
    spark.sql(s"UPDATE $cat.db.t SET v = 99 WHERE id % 2 = 0")
    val path = wh.resolve("db/t").toString
    val ts = AuditBase.readManifest(path).flatMap(_.ts)
    assert(ts.length >= 6) // 5 appends + the UPDATE's replacement file(s)
    // non-decreasing in log order, strictly increasing ACROSS commits
    // (a multi-file statement legitimately shares ONE stamp)
    assert(ts.zip(ts.drop(1)).forall { case (a, b) => a <= b },
      s"manifest stamps must be non-decreasing, got $ts")
    assert(ts.distinct.length === 6,
      s"six commits must carry six distinct stamps, got $ts")
    val vecTs = AuditDeletes.entriesWithTs(path).flatMap(_._3)
    assert(vecTs.nonEmpty && vecTs.forall(_ == ts.max),
      "the UPDATE's vectors share its replacement file's stamp")
  }

  test("VERSION AS OF keeps the pure-epoch contract on mixed tables") {
    // version pins reconstruct epoch history only: batch appends and
    // vectors stay out — the commit-time axis is the mixed spelling
    val (cat, wh) = freshCat("vsn")
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, v BIGINT) USING audit")
    val ckpt = tempDir("graft_tmix_vsn_ckpt")
    val w = spark.readStream.format(classOf[PagedSource].getName)
      .option("pages", "2").option("pageSize", "50")
      .option("pagesPerTrigger", "1")
      .load().selectExpr("id", "id AS v")
      .writeStream.option("checkpointLocation", ckpt.toString)
      .outputMode("append").toTable(s"$cat.db.t")
    try w.processAllAvailable() finally w.stop()
    spark.sql(s"INSERT INTO $cat.db.t VALUES (9000, 1)")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.t VERSION AS OF 1")
      .head.getLong(0) === 100L) // epochs 0-1 only, no batch append
    val _ = wh
  }

  /** Stream `pages` epochs of 40 rows (id, flag = id % 3, v = id) into a
    * fresh catalog table; returns (catalog, table path). */
  private def streamedTable(tag: String, partitioned: Boolean, pages: Int)
      : (String, String) = {
    val (cat, wh) = freshCat(tag)
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, flag BIGINT, v BIGINT) " +
      "USING audit" + (if (partitioned) " PARTITIONED BY (flag)" else ""))
    val ckpt = tempDir(s"graft_tmix_${tag}_ckpt")
    val w = spark.readStream.format(classOf[PagedSource].getName)
      .option("pages", pages.toString).option("pageSize", "40")
      .option("pagesPerTrigger", "1")
      .load().selectExpr("id", "id % 3 AS flag", "id AS v")
      .writeStream.option("checkpointLocation", ckpt.toString)
      .outputMode("append").toTable(s"$cat.db.t")
    try w.processAllAvailable() finally w.stop()
    (cat, wh.resolve("db/t").toString)
  }

  private def rows(sqlText: String): Seq[(Long, Long, Long)] =
    spark.sql(sqlText).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted

  /** The change feed as a sorted multiset of (_change_type, id, flag, v). */
  private def changes(path: String, partitioned: Boolean)
      : Seq[(String, Long, Long, Long)] = {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, flag BIGINT, v BIGINT, _change_type STRING")
    val r = spark.read.schema(schema).format(classOf[JsonAuditSink].getName)
      .option("path", path).option("changeFeed", "true")
    (if (partitioned) r.option("partitionby", "flag") else r).load()
      .collect().map(x => (x.getString(3), x.getLong(0), x.getLong(1),
        x.getLong(2))).toSeq.sorted
  }

  test("one DML script gives the same rows, travel and change feed on " +
    "both layouts") {
    def script(tag: String, partitioned: Boolean) = {
      val (cat, path) = streamedTable(tag, partitioned, pages = 3)
      val t = s"$cat.db.t"
      Thread.sleep(5)
      val tPre = System.currentTimeMillis()
      Thread.sleep(5)
      spark.sql(s"INSERT INTO $t SELECT id + 1000, id % 3, id FROM range(30)")
      spark.sql(s"UPDATE $t SET v = 999 WHERE id % 10 = 3")
      // the matched update moves rows across partitions (flag changes)
      spark.sql(
        s"""MERGE INTO $t t
           |USING (SELECT * FROM VALUES (5L, 2L, 111L), (17L, 0L, 111L),
           |       (5000L, 1L, 222L) AS s(id, flag, v)) s
           |ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET t.v = s.v, t.flag = s.flag
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      // a modulo predicate cannot take the metadata path: delta DELETE
      spark.sql(s"DELETE FROM $t WHERE id % 7 = 2")
      (rows(s"SELECT id, flag, v FROM $t"),
        rows(s"SELECT id, flag, v FROM $t VERSION AS OF 1"),
        rows(s"SELECT id, flag, v FROM $t TIMESTAMP AS OF " +
          s"timestamp_millis($tPre)"),
        changes(path, partitioned))
    }
    val (flatNow, flatV1, flatPre, flatCdf) = script("lay0", partitioned = false)
    val (partNow, partV1, partPre, partCdf) = script("lay1", partitioned = true)
    // 120 streamed + 30 inserted + 1 merged in, minus the id % 7 = 2 rows
    val deleted = ((0L until 120L) ++ (1000L until 1030L) :+ 5000L)
      .count(_ % 7 == 2)
    assert(flatNow.size === 151 - deleted)
    assert(flatNow.contains((5L, 2L, 111L)) && flatNow.contains((13L, 1L, 999L)))
    assert(flatV1.size === 80 && flatPre.size === 120)
    assert(partNow === flatNow)
    assert(partV1 === flatV1)
    assert(partPre === flatPre)
    assert(partCdf === flatCdf)
    assert(flatCdf.count(_._1 == "delete") === 15 + 2 + deleted)
  }

  test("a DELETE-only statement on a streamed-only table reads exactly") {
    val (cat, path) = streamedTable("delonly", partitioned = false, pages = 2)
    val before = changes(path, partitioned = false)
    spark.sql(s"DELETE FROM $cat.db.t WHERE id % 10 = 4")
    val kept = (0L until 80L).filterNot(_ % 10 == 4)
    assert(rows(s"SELECT id, flag, v FROM $cat.db.t") ===
      kept.map(i => (i, i % 3, i)))
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.t").head.getLong(0) === 72L)
    // version pins keep the pure epoch history: vectors stay out
    assert(rows(s"SELECT id, flag, v FROM $cat.db.t VERSION AS OF 0") ===
      (0L until 40L).map(i => (i, i % 3, i)))
    val removed = (0L until 80L).filter(_ % 10 == 4)
      .map(i => ("delete", i, i % 3, i))
    assert(changes(path, partitioned = false) === (before ++ removed).sorted)
  }

  /** INSERT, INSERT OVERWRITE, INSERT into a fresh table of either layout;
    * returns (table, warehouse, an instant between the overwrite and the
    * last insert). */
  private def overwriteScript(tag: String, partitioned: Boolean)
      : (String, java.nio.file.Path, Long) = {
    val (cat, wh) = freshCat(tag)
    val t = s"$cat.db.t"
    spark.sql(s"CREATE TABLE $t (id BIGINT, flag BIGINT, v BIGINT) " +
      "USING audit" + (if (partitioned) " PARTITIONED BY (flag)" else ""))
    spark.sql(s"INSERT INTO $t SELECT id, id % 3, id FROM range(30)")
    spark.sql(s"INSERT OVERWRITE $t SELECT id + 100, id % 3, id FROM range(20)")
    Thread.sleep(5)
    val tMid = System.currentTimeMillis()
    Thread.sleep(5)
    spark.sql(s"INSERT INTO $t SELECT id + 500, id % 3, id FROM range(10)")
    (t, wh, tMid)
  }

  test("INSERT, INSERT OVERWRITE, INSERT give the same rows, count and " +
    "travel on both layouts") {
    def run(tag: String, partitioned: Boolean) = {
      val (t, wh, tMid) = overwriteScript(tag, partitioned)
      try (rows(s"SELECT id, flag, v FROM $t"),
        spark.sql(s"SELECT count(*) FROM $t").head.getLong(0),
        rows(s"SELECT id, flag, v FROM $t TIMESTAMP AS OF " +
          s"timestamp_millis($tMid)"))
      finally deleteTree(wh)
    }
    val (flatNow, flatCount, flatMid) = run("ow0", partitioned = false)
    val (partNow, partCount, partMid) = run("ow1", partitioned = true)
    val overwritten = (0L until 20L).map(i => (i + 100, i % 3, i))
    assert(flatMid === overwritten)
    assert(flatNow === (overwritten ++
      (0L until 10L).map(i => (i + 500, i % 3, i))).sorted)
    assert(flatCount === 30L)
    assert(partNow === flatNow)
    assert(partCount === flatCount)
    assert(partMid === flatMid)
  }

  test("a 2-row append over 8 write tasks publishes 2 data files on both " +
    "layouts") {
    import org.apache.spark.sql.functions.col
    def dataFiles(path: String): Long = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
      try walk.iterator().asScala.count { p =>
        p.getFileName.toString.endsWith(".jsonl") &&
          !p.toString.contains("/_")
      }.toLong
      finally walk.close()
    }
    def run(tag: String, partitioned: Boolean) = {
      val (t, wh, _) = overwriteScript(tag, partitioned)
      val path = wh.resolve("db/t").toString
      try {
        val before = dataFiles(path)
        val two = spark.range(2).selectExpr("id + 900 AS id",
          "id % 3 AS flag", "id AS v").repartition(8, col("id"))
        // the two rows reach two of the eight tasks; six tasks see none
        assert(two.rdd.mapPartitions(it => Iterator(it.nonEmpty)).collect()
          .count(identity) === 2)
        two.writeTo(t).append()
        dataFiles(path) - before
      } finally deleteTree(wh)
    }
    assert(run("files0", partitioned = false) === 2L)
    assert(run("files1", partitioned = true) === 2L)
  }
}
