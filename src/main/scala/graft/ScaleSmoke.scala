package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** sf1 scale smoke: measure how the heavy-tail queries actually scale.
  *
  * `gen` synthesizes an sf1 dataset (10× sf0.1) under `target/scale_sf1`
  * by unioning 10 key-shifted replicas of every sf0.1 table — shifted so
  * JOIN fan-in and per-group sizes stay constant while group counts grow
  * 10× (how the real workload grows). The two content tables need more
  * than a key shift, or every replica would be a trivial duplicate and
  * the dedup queries would measure a different (pathological) workload:
  *
  *  - `documents`: replica r>0 maps every word w → w+suffix_r — a
  *    BIJECTIVE vocabulary rename. Intra-replica similarity structure
  *    (exact dups, near-dups, shingle df distribution) is preserved
  *    EXACTLY, so pair counts scale ~10× with the corpus; across
  *    replicas the vocabularies are disjoint, so no shingle ever
  *    matches (vocabulary grows with the corpus, Heaps-style). An
  *    earlier hash-sort permutation was rejected: sorting CANONICALIZES
  *    word order, turning bag-similar docs into sequence-near-dups and
  *    manufacturing a quadratic pair explosion that measures the
  *    synthesis, not the engine.
  *  - `embeddings`: replica r>0 applies a deterministic per-dimension
  *    sign flip — an orthogonal transform, so intra-replica geometry
  *    (neighborhoods, centroids) is preserved exactly while replicas
  *    are mutually uncorrelated.
  *
  * `run` times each heavy-tail query at sf0.1 and sf1 (same session,
  * min-of-2 like Bench, `toRdd.count()` materialization) and prints one
  * JSON line per query with the measured scaling exponent
  * log10(t_sf1 / t_sf0.1) — 1.0 = linear, <1 = sublinear (fixed overheads
  * amortizing), >1 = superlinear (a pair join or sort outgrowing the
  * input). Results are recorded in SCALING.md.
  */
object ScaleSmoke {

  /** Heavy tail per BENCH_r09_full.json, minus the multi-batch streaming
    * drives (their wall time is staged micro-batch machinery, not data
    * volume) — with two single-drive streaming representatives kept in. */
  val HeavyTail: Seq[String] = Seq(
    "q_span_cut", "q_dup_ngrams", "q_dup_spans", "q_img_dedup", "q_kcore",
    "q_winnow_pairs", "q_sssp", "q_neg_sample", "q_pagerank", "q_bfs",
    "q_bootstrap", "q_checksum_diff", "q_triangles", "q_ssjoin_prefix",
    "q_degree_dist", "q_dup_clusters", "q_minhash_pairs", "q_sql_q9",
    "q_sql_q21", "q_join_composite", "q_stream_daily", "q_stream_sessions")

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("run")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val src = "/root/testdata/sf0.1"
    val dst = "target/scale_sf1"
    mode match {
      case "gen" => gen(spark, src, dst)
      case "run" => run(spark, src, dst,
        if (args.length > 1) args.drop(1).toSeq else HeavyTail)
      case "audit" => auditScale(spark)
      case "partial" => partialMaintScale(spark)
      case "apply" => applyMaintScale(spark)
      case "rank" => rankScale(spark)
      case other => sys.error(s"ScaleSmoke: unknown mode $other")
    }
    spark.stop()
  }

  private val Replicas = 10

  def gen(spark: SparkSession, src: String, dst: String): Unit = {
    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    // single FILE per table (matching the driver's layout — the streaming
    // drives glob for the literal file name `events.parquet`)
    def write(t: String, df: DataFrame): Unit = {
      val scratch = java.nio.file.Files.createTempDirectory(s"scale_gen_$t")
      df.coalesce(1).write.mode("overwrite").parquet(scratch.toString)
      val listing = java.nio.file.Files.list(scratch)
      val part = try listing.filter(
          p => p.getFileName.toString.startsWith("part-")).findFirst()
        finally listing.close()
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dst))
      val target = java.nio.file.Paths.get(dst, s"$t.parquet")
      if (java.nio.file.Files.isDirectory(target)) {
        // stale dir from a previous run's layout: clear it
        graft.sources.deleteTree(target)
      } else java.nio.file.Files.deleteIfExists(target)
      java.nio.file.Files.move(part.get(), target)
      println(s"[scale] wrote $t: ${spark.read.parquet(target.toString).count()} rows")
    }
    def shifted(t: String, keys: Seq[String])(extra: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame = {
      val base = read(t)
      val spans = keys.map(k =>
        k -> (base.agg(max(col(k))).head.getLong(0) + 1L)).toMap
      (0 until Replicas).map { r =>
        val shiftedDf = keys.foldLeft(base) { case (d, k) =>
          d.withColumn(k, col(k) + lit(r.toLong * spans(k)))
        }
        extra(shiftedDf, r)
      }.reduce(_ unionAll _)
    }
    // dimensions stay fixed (as in TPC-H: region/nation never scale)
    write("region", read("region"))
    write("nation", read("nation"))
    write("customer", shifted("customer", Seq("c_custkey"))())
    write("supplier", shifted("supplier", Seq("s_suppkey"))())
    write("part", shifted("part", Seq("p_partkey"))())
    write("orders", shifted("orders", Seq("o_orderkey", "o_custkey"))())
    write("lineitem", shifted("lineitem",
      Seq("l_orderkey", "l_partkey", "l_suppkey"))())
    write("events", shifted("events", Seq("event_id", "user_id"))())
    // documents: per-replica bijective vocabulary rename (w → w + tag_r)
    write("documents", shifted("documents", Seq("doc_id"))((d, r) =>
      if (r == 0) d
      else d.withColumn("text", concat_ws(" ", expr(
          s"""transform(split(text, ' '),
             |  w -> CASE WHEN w = '' THEN w ELSE concat(w, '${('p' + r - 1).toChar}') END)""".stripMargin)))
        .withColumn("n_chars", length(col("text")))))
    // embeddings: per-replica orthogonal sign flip per dimension
    write("embeddings", shifted("embeddings", Seq("vec_id"))((d, r) =>
      if (r == 0) d
      else d.withColumn("embedding", expr(
        s"""transform(embedding,
           |  (x, i) -> CASE WHEN pmod(xxhash64(i, ${r}L), 2) = 0
           |            THEN x ELSE -x END)""".stripMargin))))
  }

  def run(spark: SparkSession, small: String, big: String,
      queryNames: Seq[String]): Unit = {
    // warm the session so the first timed query is not JVM init
    spark.read.parquet(s"$small/region.parquet").count()
    val qs = SparkEntry.queries
    def timeOne(name: String, dir: String): (Double, Boolean) = {
      val runs = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        val ok =
          try { qs(name)(spark, dir).queryExecution.toRdd.count(); true }
          catch { case NonFatal(e) =>
            System.err.println(s"[scale] $name @ $dir failed: ${e.getMessage}")
            false
          }
        ((System.nanoTime() - t0) / 1e9, ok)
      }
      (runs.map(_._1).min, runs.forall(_._2))
    }
    val results = queryNames.map { n =>
      val (t01, ok1) = timeOne(n, small)
      val (t1, ok2) = timeOne(n, big)
      val exp = math.log10(t1 / t01)
      println(f"""{"query":"$n","sf01":$t01%.2f,"sf1":$t1%.2f,"exp":$exp%.2f,"ok":${ok1 && ok2}}""")
      (n, t01, t1, exp, ok1 && ok2)
    }
    val load =
      try java.nio.file.Files.readString(
        java.nio.file.Paths.get("/proc/loadavg")).trim
      catch { case NonFatal(_) => "unavailable" }
    println(s"""{"metric":"scale_smoke","queries":${results.size},""" +
      s""""failed":${results.count(!_._5)},"loadavg":"$load"}""")
  }

  /** Audit-format scale smoke (rounds 11-14 surface): the partitioned
    * DML / CDC / identity / z-order paths build their own fixtures, so
    * the sf-dir harness above cannot scale them — this one measures each
    * PATH at two table volumes (10×) and prints the same exponent lines.
    * The contract each number checks: partitioned batch insert, identity
    * allocation, CDC pull and z-order OPTIMIZE are linear in the table;
    * delta UPDATE is linear in the CHANGED rows (grown 10× alongside). */
  /** Round-18 (verdict item 7): partition-filtered maintenance where the
    * VOLUME term dominates — 1M rows across 64 identity dirs, then a
    * full compaction vs selecting 8 dirs (1/8) vs 1 dir (1/64). The
    * claim to demonstrate: partial-optimize time approaches
    * fixed-floor + selected-fraction × volume as the dir count grows
    * (the r17 measurement at 6 dirs read 1.68× not 6× because fixed
    * job costs dominated; 64 dirs separates the two terms). */
  def partialMaintScale(spark: SparkSession): Unit = {
    import graft.sources.GraftCatalog
    val n = 1000000L
    val dirs = 64
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def fresh(tag: String, rows: Long): String = {
      val wh = java.nio.file.Files.createTempDirectory(s"graft_pm_$tag")
      val cat = s"graft_pm_$tag"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.toString)
      spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, flag BIGINT, " +
        "v BIGINT) USING audit PARTITIONED BY (flag)")
      spark.sql(s"INSERT INTO $cat.db.t SELECT id, id % $dirs, id * 3 " +
        s"FROM range($rows)")
      cat
    }
    // untimed warm-up: classloading + codegen out of the timed window
    val w = fresh("warm", 10000L)
    spark.sql(s"CALL $w.system.optimize(table => 'db.t', " +
      "target_file_count => 1, partition_filter => 'flag=1')")
    val cases = Seq(
      ("full_64dirs", ""),
      ("sel8_of_64", ", partition_filter => 'flag >= 0, flag <= 7'"),
      ("sel1_of_64", ", partition_filter => 'flag=7'"))
    val times = cases.map { case (name, filter) =>
      val cat = fresh(name.replaceAll("[^a-z0-9]", ""), n)
      val t = timed(spark.sql(s"CALL $cat.system.optimize(" +
        s"table => 'db.t', target_file_count => $dirs$filter)").collect())
      println(f"""{"case":"$name","sec":$t%.2f}""")
      t
    }
    val load =
      try java.nio.file.Files.readString(
        java.nio.file.Paths.get("/proc/loadavg")).trim
      catch { case NonFatal(_) => "unavailable" }
    println(f"""{"metric":"partial_maint_smoke","full_s":${times(0)}%.2f,""" +
      f""""sel8_s":${times(1)}%.2f,"sel1_s":${times(2)}%.2f,""" +
      f""""sel8_ratio":${times(1) / times(0)}%.3f,""" +
      f""""sel1_ratio":${times(2) / times(0)}%.3f,"loadavg":"$load"}""")
  }

  /** `ScaleSmoke apply` (round 19): one idempotent `maintenance_apply`
    * heals a 64-dir / 1M-row table carrying 8 fragmented dirs and one
    * dir's delete-vector backlog. The point measured: the PLANNING pass
    * is metadata-only (never opens a data file) and the executed work
    * batches — one IN-list OPTIMIZE covers all 8 flagged dirs (one
    * lease), one VACUUM covers the backlogged dir — so the heal cost
    * tracks the FLAGGED fraction, not the 64-dir count, and a second
    * apply is a metadata-only no-op. */
  def applyMaintScale(spark: SparkSession): Unit = {
    import graft.sources.GraftCatalog
    val dirs = 64
    val n = 1000000L
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val wh = java.nio.file.Files.createTempDirectory("graft_ap")
    val cat = "graft_ap"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.toString)
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, flag BIGINT, " +
      "v BIGINT) USING audit PARTITIONED BY (flag)")
    // one writer task per flag → one initial file per dir
    spark.sql(s"INSERT INTO $cat.db.t " +
      s"SELECT /*+ REPARTITION($dirs, flag) */ id, id % $dirs AS flag, " +
      s"id * 3 AS v FROM range($n)")
    // fragment dirs 0..7 (10 live files each)…
    (0 until 8).foreach { f =>
      (0 until 9).foreach { i =>
        spark.sql(s"INSERT INTO $cat.db.t VALUES " +
          s"(${n + f * 100 + i}, $f, 0)")
      }
    }
    // …and backlog dir 63 (modulo predicate → delete vectors; dir 63's
    // ids are ≡63 mod 64, all odd, so the modulus must be coprime: %3
    // hits a third of its ~15.6k rows)
    spark.sql(s"DELETE FROM $cat.db.t WHERE flag = 63 AND id % 3 = 0")
    val plan0 = spark.sql(s"CALL $cat.system.maintenance_plan(" +
      "table => 'db.t')").collect()
    println(s"""{"pre_flagged":${plan0.count(_.getString(5) != "none")},""" +
      s""""pre_actions":"${plan0.filter(_.getString(5) != "none")
        .map(r => s"${r.getString(0)}:${r.getString(5)}")
        .mkString(" ")}"}""")
    val tApply = timed {
      val rows = spark.sql(s"CALL $cat.system.maintenance_apply(" +
        "table => 'db.t')").collect()
      require(rows.last.getString(2) == "none",
        s"apply did not converge: ${rows.mkString(";")}")
      val calls = rows.length - 1
      println(s"""{"apply_calls":$calls,"rows":${rows.length}}""")
    }
    val tAgain = timed {
      spark.sql(s"CALL $cat.system.maintenance_apply(table => 'db.t')")
        .collect()
    }
    val load =
      try java.nio.file.Files.readString(
        java.nio.file.Paths.get("/proc/loadavg")).trim
      catch { case NonFatal(_) => "unavailable" }
    println(f"""{"metric":"maintenance_apply_smoke","dirs":$dirs,""" +
      f""""heal_s":$tApply%.2f,"noop_s":$tAgain%.2f,"loadavg":"$load"}""")
  }

  def auditScale(spark: SparkSession): Unit = {
    import graft.sources.GraftCatalog
    val sizes = Seq(100000L, 1000000L)
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def freshCat(tag: String, n: Long): String = {
      val wh = java.nio.file.Files.createTempDirectory(s"graft_scale_$tag$n")
      val cat = s"graft_scale_${tag}_$n"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.toString)
      cat
    }
    // each scenario: (name, per-size prep, per-size measured action)
    type Prep = (String, Long) => Unit
    type Act = (String, Long) => Unit
    val mkPart: Prep = (cat, _) => spark.sql(
      s"CREATE TABLE $cat.db.t (id BIGINT, flag BIGINT, v BIGINT) " +
        "USING audit PARTITIONED BY (flag)")
    val fill: Prep = (cat, n) => spark.sql(
      s"INSERT INTO $cat.db.t SELECT id, id % 6, id * 3 FROM range($n)")
    val scenarios: Seq[(String, Prep, Act)] = Seq(
      ("audit_part_insert", mkPart,
        (cat, n) => fill(cat, n)),
      ("audit_part_update", (cat, n) => { mkPart(cat, n); fill(cat, n) },
        // delta DML: changed rows grow 10× with the table — linear in
        // CHANGES is the contract (never O(table))
        (cat, _) => spark.sql(
          s"UPDATE $cat.db.t SET v = 999 WHERE id % 100 = 7")),
      ("audit_part_cdc_pull", (cat, n) => {
        mkPart(cat, n); fill(cat, n)
        spark.sql(s"UPDATE $cat.db.t SET v = 999 WHERE id % 100 = 7")
      }, (cat, n) => {
        val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
        val cdfSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("flag",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("v",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("_change_type",
            org.apache.spark.sql.types.StringType)))
        spark.read.schema(cdfSchema)
          .format(classOf[graft.sources.JsonAuditSink].getName)
          .option("path", s"$wh/db/t").option("partitionby", "flag")
          .option("changeFeed", "true").load()
          .groupBy(col("_change_type")).count()
          .queryExecution.toRdd.count()
      }),
      ("audit_identity_insert", (cat, _) => spark.sql(
        s"""CREATE TABLE $cat.db.t (
           |  sk BIGINT GENERATED ALWAYS AS IDENTITY,
           |  id BIGINT, v BIGINT) USING audit""".stripMargin),
        (cat, n) => spark.sql(
          s"INSERT INTO $cat.db.t (id, v) SELECT id, id * 3 FROM range($n)")),
      ("audit_part_zorder", (cat, n) => { mkPart(cat, n); fill(cat, n) },
        (cat, _) => spark.sql(s"CALL $cat.system.optimize(" +
          "table => 'db.t', target_file_count => 8, zorder_by => 'id,v')")),
      // READ paths (round-16): the time-pin planners and the ts-CDC pull
      // re-read manifests/vector logs per plan — prove the planning cost
      // is LOG-sized, not row-sized (the scan itself is linear in rows
      // read, which is the point of reading)
      ("audit_travel_ts_read", (cat, n) => {
        mkPart(cat, n); fill(cat, n)
        spark.sql(s"UPDATE $cat.db.t SET v = 999 WHERE id % 100 = 7")
      }, (cat, _) => {
        val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
        val t = graft.sources.AuditIntrospect.maxVisibleMs(s"$wh/db/t",
          Seq("flag"))
        spark.sql(s"SELECT count(*), sum(v) FROM $cat.db.t " +
          s"TIMESTAMP AS OF timestamp_millis($t)")
          .queryExecution.toRdd.count()
      }),
      ("audit_vacuum_fold", (cat, n) => {
        mkPart(cat, n); fill(cat, n)
        spark.sql(s"UPDATE $cat.db.t SET v = 999 WHERE id % 100 = 7")
        spark.sql(s"CALL $cat.system.optimize(table => 'db.t', " +
          "target_file_count => 8)")
      }, (cat, _) =>
        // streamed base-vector fold + folded-file reclamation + stats
        // recompute: linear in the TOUCHED base bytes, O(1) driver memory
        spark.sql(s"CALL $cat.system.vacuum(table => 'db.t')").collect()),
      ("audit_cdc_ts_pull", (cat, n) => {
        mkPart(cat, n); fill(cat, n)
        spark.sql(s"UPDATE $cat.db.t SET v = 999 WHERE id % 100 = 7")
      }, (cat, n) => {
        // pull ONLY the DML tail (the window excludes the bulk insert):
        // a log-sized plan + change-sized read, never a table-sized one
        val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
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
        val insertTs = graft.sources.AuditIntrospect.minBatchTs(s"$wh/db/t",
          Seq("flag"))
        spark.read.schema(cdfSchema)
          .format(classOf[graft.sources.JsonAuditSink].getName)
          .option("path", s"$wh/db/t").option("partitionby", "flag")
          .option("changeFeed", "true")
          .option("startingTimestamp", (insertTs + 1).toString).load()
          .groupBy(col("_change_type")).count()
          .queryExecution.toRdd.count()
      }))
    // untimed warm-up at a token size: the first traversal of each path
    // pays classloading + codegen that would otherwise masquerade as the
    // small-size cost (observed 3-25× inflation on the first run)
    scenarios.foreach { case (name, prep, act) =>
      val cat = freshCat("w" + name.replaceAll("[^a-z]", ""), 3000L)
      prep(cat, 3000L); act(cat, 3000L)
    }
    val results = scenarios.map { case (name, prep, act) =>
      val ts = sizes.map { n =>
        val cat = freshCat(name.replaceAll("[^a-z]", ""), n)
        prep(cat, n)
        timed(act(cat, n))
      }
      val exp = math.log10(ts(1) / ts(0))
      println(f"""{"query":"$name","n100k":${ts(0)}%.2f,"n1m":${ts(1)}%.2f,"exp":$exp%.2f}""")
      (name, exp)
    }
    val load =
      try java.nio.file.Files.readString(
        java.nio.file.Paths.get("/proc/loadavg")).trim
      catch { case NonFatal(_) => "unavailable" }
    println(s"""{"metric":"audit_scale_smoke","paths":${results.size},""" +
      s""""loadavg":"$load"}""")
  }

  /** `rank` mode (round 20): head-to-head of the single-partition window
    * the bench's r20 movers replaced vs the two-pass exact primitive, at
    * growing n on the SAME generated frame. The two forms must agree
    * exactly (asserted via an order-free checksum of every rank); the
    * interesting number is where the ratio inverts — the two-pass form
    * pays constant job overhead (range exchange + pin + stats collect)
    * while the window form pays one task sorting ALL n rows, so the
    * window wins at row counts tiny enough that one task's sort is
    * cheaper than a handful of job round-trips, and loses monotonically
    * from there. Results recorded in SCALING.md / ROUND_NOTES. */
  def rankScale(spark: SparkSession): Unit = {
    import org.apache.spark.sql.expressions.Window
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    Seq(100000L, 1000000L, 10000000L, 40000000L).foreach { n =>
      val df = spark.range(0, n, 1, 32).select(
        (col("id") * 2654435761L % lit(n)).as("k"), col("id"))
      val sort = Seq(col("k").asc, col("id").asc)
      // order-free exact checksum over (id, rank): proves the two plans
      // computed the SAME total order, and forces full materialization
      def chk(ranked: DataFrame): Long =
        ranked.agg(sum(col("r") * ((col("id") % 97L) + 1L))).head.getLong(0)
      var wv = 0L
      var tv = 0L
      def winOnce(): Unit = {
        wv = chk(df.select(col("id"), row_number()
          .over(Window.orderBy(sort: _*)).cast("long").as("r")))
      }
      def twoOnce(): Unit = {
        tv = chk(graft.operators.ScaleTools.globalRank(df, sort, "r"))
      }
      val w = Seq.fill(2)(timed(winOnce())).min
      val t = Seq.fill(2)(timed(twoOnce())).min
      require(wv == tv, s"rank checksum mismatch at n=$n: $wv vs $tv")
      println(f"""{"smoke":"rank","n":$n,"window_1task_s":$w%.2f,""" +
        f""""twopass_s":$t%.2f,"speedup":${w / t}%.2f}""")
    }
  }
}
