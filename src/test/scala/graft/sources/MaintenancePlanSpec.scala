package graft.sources

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkSpec, TempDirs}

/** `system.maintenance_plan` — the metadata-only maintenance recommender
  * (round 18): at 100 TB nobody eyeballs 10k partition directories, so
  * the engine inspects its own metadata and names the action AND the
  * exact `partition_filter` selector to run, batching flagged dirs into
  * one IN-list call. */
class MaintenancePlanSpec extends AnyFunSuite with TempDirs {

  private lazy val spark: SparkSession = SparkSpec.session

  private def freshCat(tag: String): (String, java.nio.file.Path) = {
    val wh = tempDir(s"graft_mp_${tag}_")
    val cat = s"graft_mp_$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.toString)
    (cat, wh)
  }

  private def plan(cat: String, args: String = "")
      : Seq[(String, Int, Long, Long, Int, String, String)] =
    spark.sql(s"CALL $cat.system.maintenance_plan(table => 'db.t'$args)")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getInt(4), r.getString(5), r.getString(6))).toSeq

  test("unpartitioned: healthy → none; fragmentation → OPTIMIZE; " +
    "vector backlog → VACUUM; crashed fold → VACUUM with the remedy") {
    val (cat, _) = freshCat("u")
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, v BIGINT) USING audit")
    spark.sql(s"INSERT INTO $cat.db.t SELECT id, id FROM range(100)")
    val healthy = plan(cat)
    assert(healthy.size === 1 && healthy.head._6 === "none", healthy)
    // fragmentation: 9 more single-file commits exceed max_live_files=8
    (0 until 9).foreach(i => spark.sql(
      s"INSERT INTO $cat.db.t VALUES (${1000 + i}, 0)"))
    val frag = plan(cat)
    assert(frag.head._6 === "OPTIMIZE", frag)
    assert(frag.head._2 >= 10) // live files counted
    // an operator with a different policy sees none
    assert(plan(cat, ", max_live_files => 50").head._6 === "none")
    // vector backlog (threshold lowered to make 11 entries matter —
    // ids 3,13,…,93 plus the later 1003)
    spark.sql(s"DELETE FROM $cat.db.t WHERE id % 10 = 3")
    val vac = plan(cat, ", vector_threshold => 5")
    assert(vac.head._6 === "VACUUM" && vac.head._4 === 11L, vac)
    // crashed fold: recovery beats every other recommendation
    val (cat2, wh2) = freshCat("u2")
    spark.sql(s"CREATE TABLE $cat2.db.t (id BIGINT, v BIGINT) USING audit")
    spark.sql(s"INSERT INTO $cat2.db.t SELECT id, id FROM range(100)")
    spark.sql(s"DELETE FROM $cat2.db.t WHERE id % 10 = 3")
    val p2 = wh2.resolve("db").resolve("t").toString
    val pre = AuditDeletes.entriesWithTs(p2)
    spark.sql(s"CALL $cat2.system.vacuum(table => 'db.t')")
    AuditDeletes.replace(p2, pre, Map.empty, foldIntents = pre)
    val rec = plan(cat2)
    assert(rec.head._6 === "VACUUM" &&
      rec.head._7.contains("crashed fold") && rec.head._5 === 10, rec)
  }

  test("partitioned: per-dir rows name their selector; multiple " +
    "flagged dirs batch into one IN-list call") {
    val (cat, _) = freshCat("p")
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, flag BIGINT) " +
      "USING audit PARTITIONED BY (flag)")
    spark.sql(s"INSERT INTO $cat.db.t SELECT id, id % 3 FROM range(90)")
    // fragment flags 0 and 2 only
    (0 until 9).foreach { i =>
      spark.sql(s"INSERT INTO $cat.db.t VALUES (${1000 + i}, 0)")
      spark.sql(s"INSERT INTO $cat.db.t VALUES (${2000 + i}, 2)")
    }
    val rows = plan(cat)
    val byTarget = rows.map(r => (r._1, r)).toMap
    assert(byTarget("flag=0")._6 === "OPTIMIZE")
    assert(byTarget("flag=0")._7.contains("partition_filter => 'flag=0'"))
    assert(byTarget("flag=1")._6 === "none")
    assert(byTarget("flag=2")._6 === "OPTIMIZE")
    // the batch summary names ONE call for both flagged dirs
    val summary = byTarget("(table)")
    assert(summary._6 === "OPTIMIZE", summary)
    assert(summary._7.contains("flag IN (0,2)"), summary)
    // and the recommended call actually works end-to-end
    spark.sql(s"CALL $cat.system.optimize(table => 'db.t', " +
      "partition_filter => 'flag IN (0,2)')")
    val after = plan(cat)
    assert(after.forall(_._6 === "none"), after)
    assert(spark.table(s"$cat.db.t").count() === 108L)
  }

  test("values carrying selector syntax (comma/paren/quote/operator) " +
    "emit QUOTED selectors that parse back exactly and copy-paste") {
    // unit round trip: quoteVal → parsePartitionFilter is identity on
    // every hostile value class the advisor named
    val vals = Seq("a,b", "x (y)", "he said \"hi\"", " lead", "tag=7",
      "a<b", "IN (z)", "plain")
    vals.foreach { v =>
      val sel = s"tag=${AuditMaintenance.quoteVal(v)}"
      val parsed = AuditMaintenance.parsePartitionFilter(sel, "TEST")
      assert(parsed.size === 1, sel)
      assert(parsed.head === AuditMaintenance.PartEq("tag", v), sel)
    }
    val inSel =
      s"tag IN (${vals.map(AuditMaintenance.quoteVal).mkString(",")})"
    assert(AuditMaintenance.parsePartitionFilter(inSel, "TEST") ===
      Seq(AuditMaintenance.PartIn("tag", vals)), inSel)
    // end-to-end: comma/paren values as real partition dirs — the plan's
    // emitted recommendation, copy-pasted VERBATIM, compacts exactly the
    // flagged dirs and re-plans to none
    val (cat, _) = freshCat("q")
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, tag STRING) " +
      "USING audit PARTITIONED BY (tag)")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (0, 'a,b'), (1, 'c(d)'), " +
      "(2, 'ok')")
    (0 until 9).foreach { i =>
      spark.sql(s"INSERT INTO $cat.db.t VALUES (${100 + i}, 'a,b')")
      spark.sql(s"INSERT INTO $cat.db.t VALUES (${200 + i}, 'c(d)')")
    }
    val rows = plan(cat)
    val summary = rows.find(_._1 == "(table)").getOrElse(
      fail(s"no batch summary: $rows"))
    assert(summary._7.contains("""tag IN ("a,b","c(d)")"""), summary)
    val SelRe = """partition_filter => '(.*)'""".r.unanchored
    val emitted = summary._7 match {
      case SelRe(s) => s
      case _ => fail(s"no selector in: ${summary._7}")
    }
    spark.sql(s"CALL $cat.system.optimize(table => 'db.t', " +
      s"target_file_count => 1, partition_filter => '$emitted')")
    val after = plan(cat)
    assert(after.forall(_._6 === "none"), after)
    assert(spark.table(s"$cat.db.t").count() === 21L)
  }

  test("byte-aware planning: 10×tiny + 2×big fragments flag OPTIMIZE " +
    "below the file-count bar; live_bytes reported; legacy no-bytes " +
    "lines plan exactly as before") {
    val (cat, wh) = freshCat("by")
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, v BIGINT) USING audit")
    // 2 big files (400 rows each) + 10 single-row fragments = 12 files
    spark.sql(s"INSERT INTO $cat.db.t " +
      "SELECT /*+ REPARTITION(1) */ id, id FROM range(400)")
    spark.sql(s"INSERT INTO $cat.db.t " +
      "SELECT /*+ REPARTITION(1) */ id + 400, id FROM range(400)")
    (0 until 10).foreach(i => spark.sql(
      s"INSERT INTO $cat.db.t VALUES (${1000 + i}, 0)"))
    def planB(args: String): (String, String, Option[Long]) = {
      val r = spark.sql(
        s"CALL $cat.system.maintenance_plan(table => 'db.t'$args)").head
      (r.getString(5), r.getString(6),
        if (r.isNullAt(7)) None else Some(r.getLong(7)))
    }
    // count-based policy alone: 12 ≤ 20 → healthy (can't tell 10×1 KB
    // fragments from 10×1 GB files — the round-19 verdict gap)
    val (a0, _, b0) = planB(", max_live_files => 20")
    assert(a0 === "none", a0)
    // live_bytes is the stat-summed truth: 810 rows of JSON lines
    assert(b0.exists(b => b > 810L * 10 && b < 810L * 200), b0)
    // byte-aware: the 10 single-row files are fragments → OPTIMIZE
    val (a1, why1, _) = planB(", max_live_files => 20, " +
      "small_file_bytes => 500")
    assert(a1 === "OPTIMIZE", a1)
    assert(why1.contains("merge 10 fragment files (< 500 bytes each)"),
      why1)
    // big files alone never count: threshold below the big-file size
    // but above the fragment size is the discriminating case above;
    // with fragments compacted away the same policy reads healthy
    spark.sql(s"CALL $cat.system.optimize(table => 'db.t', " +
      "target_file_count => 2)")
    val (a2, _, _) = planB(", max_live_files => 20, " +
      "small_file_bytes => 500")
    assert(a2 === "none", a2)
    // LEGACY table: strip every bytes field from the metadata — the
    // same byte policy must degrade to the pre-round-20 plan (no
    // fragments counted, live_bytes null)
    val (cat2, wh2) = freshCat("lg")
    spark.sql(s"CREATE TABLE $cat2.db.t (id BIGINT, v BIGINT) USING audit")
    (0 until 5).foreach(i => spark.sql(
      s"INSERT INTO $cat2.db.t VALUES ($i, $i)"))
    val dir = wh2.resolve("db").resolve("t")
    def strip(p: java.nio.file.Path): Unit =
      if (java.nio.file.Files.exists(p)) {
        val s = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          .replaceAll(""","bytes":\d+""", "")
        java.nio.file.Files.write(p, s.getBytes("UTF-8"))
      }
    strip(dir.resolve("_MANIFEST"))
    val txns = dir.resolve("_TXN")
    if (java.nio.file.Files.isDirectory(txns)) {
      val l = java.nio.file.Files.list(txns)
      try l.iterator().forEachRemaining(p => strip(p)) finally l.close()
    }
    val r2 = spark.sql(s"CALL $cat2.system.maintenance_plan(" +
      "table => 'db.t', small_file_bytes => 1000000)").head
    assert(r2.getString(5) === "none", r2)
    assert(r2.isNullAt(7), "legacy lines must report null live_bytes")
    assert(spark.table(s"$cat2.db.t").count() === 5L)
  }
}
