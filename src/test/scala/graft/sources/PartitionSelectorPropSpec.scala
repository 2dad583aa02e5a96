package graft.sources

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Randomized selector × layout property (round-18 verdict #7): for
  * random multi-level partition layouts (long + string columns, null
  * tokens, hostile string values) and random selector conjunct mixes
  * (`=` / `IN` / ranges, including non-canonical numerics like `08`),
  * three independent evaluations of the same selector must agree:
  *
  *   1. an independent in-spec MODEL (typed comparison per level:
  *      numeric for longs, UTF-8 byte order for strings, null matches
  *      nothing);
  *   2. [[AuditMaintenance.partitionSelector]] over a REAL directory
  *      tree built with the writer's own token encoding;
  *   3. [[AuditMaintenance.rowPredicate]] evaluated by Spark on the
  *      dirs' value tuples — the row-level twin OPTIMIZE folds by.
  *
  * A selector/row divergence is a rows-not-all-read hazard (a fold
  * would rewrite a dir whose rows the predicate missed, or pull rows
  * from an unselected dir into the rewrite) — the bug class the
  * round-18 multi-level flake ("4 did not equal 8") belonged to, found
  * then by one hand-written layout at a time. The selector string is
  * also rendered (quoteVal) and re-parsed per case, so the quoting
  * grammar round-trips under the same fuzz. */
class PartitionSelectorPropSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.session

  // ---- independent model ----------------------------------------------

  /** UTF-8 byte-order comparison — written independently of Spark's
    * UTF8String so the model can't share a bug with the subject. */
  private def utf8Cmp(a: String, b: String): Int = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    var i = 0
    while (i < x.length && i < y.length) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  private def modelCmp(isLong: Boolean, value: Any, v: String): Option[Int] =
    value match {
      case null => None
      case l: java.lang.Long => Some(java.lang.Long.compare(l, v.toLong))
      case s: String => Some(Integer.signum(utf8Cmp(s, v)))
      case other => fail(s"unexpected model value $other")
    }

  private def modelHolds(isLong: Boolean, value: Any,
      p: AuditMaintenance.PartPred): Boolean = p match {
    case AuditMaintenance.PartEq(_, v) =>
      modelCmp(isLong, value, v).contains(0)
    case AuditMaintenance.PartIn(_, vs) =>
      vs.exists(v => modelCmp(isLong, value, v).contains(0))
    case AuditMaintenance.PartCmp(_, op, v) =>
      modelCmp(isLong, value, v).exists(c => op match {
        case "<=" => c <= 0
        case ">=" => c >= 0
        case "<"  => c < 0
        case ">"  => c > 0
      })
  }

  // ---- generators -------------------------------------------------------

  private val longPool: Seq[java.lang.Long] =
    Seq(-12L, -3L, 0L, 1L, 2L, 7L, 8L, 42L).map(Long.box)
  private val stringPool: Seq[String] =
    Seq("a", "b", "a,b", "x (y)", "he said \"hi\"", " lead", "tag=7",
      "a<b", "IN (z)", "", "café", "zz")
  // selector values: pool members plus absent values and non-canonical
  // numeric spellings ("08" must behave exactly like 8)
  private val longSelVals: Seq[String] =
    Seq("-12", "-3", "0", "1", "2", "7", "8", "42", "5", "08", "+7", "-99")
  private val stringSelVals: Seq[String] =
    stringPool ++ Seq("missing", "b0", "__NULL__")

  private case class Level(col: String, isLong: Boolean)

  private def genCase: Gen[(Seq[Level], Seq[Seq[Any]],
      Seq[AuditMaintenance.PartPred])] = for {
    nLevels <- Gen.choose(2, 3)
    kinds <- Gen.listOfN(nLevels, Gen.oneOf(true, false))
    levels = kinds.zipWithIndex.map { case (isLong, i) =>
      Level(s"c$i", isLong) }
    // per-level value sets (3-4 values, null included sometimes)
    valueSets <- Gen.sequence[Seq[Seq[Any]], Seq[Any]](levels.map { l =>
      val pool: Seq[Any] =
        if (l.isLong) longPool else stringPool
      for {
        n <- Gen.choose(3, 4)
        vs <- Gen.pick(n, pool)
        withNull <- Gen.prob(0.4)
      } yield (if (withNull) vs.toSeq :+ (null: Any) else vs.toSeq)
    })
    // dirs: a random subset of the cartesian product, at least 1
    allTuples = valueSets.foldLeft(Seq(Seq.empty[Any]))((acc, vs) =>
      acc.flatMap(t => vs.map(v => t :+ v)))
    tuples <- Gen.someOf(allTuples).suchThat(_.nonEmpty)
    // conjuncts: 1-3, each on a random level, at most one per level
    // (the engine ANDs repeated-column conjuncts the same way, but one
    // per level keeps the model reading clear)
    nPreds <- Gen.choose(1, math.min(3, nLevels))
    predLevels <- Gen.pick(nPreds, levels.indices)
    preds <- Gen.sequence[Seq[AuditMaintenance.PartPred],
      AuditMaintenance.PartPred](predLevels.toSeq.map { li =>
      val l = levels(li)
      val vals = if (l.isLong) longSelVals else stringSelVals
      Gen.oneOf[AuditMaintenance.PartPred](
        Gen.oneOf(vals).map(v => AuditMaintenance.PartEq(l.col, v)),
        for {
          n <- Gen.choose(1, 3)
          vs <- Gen.pick(n, vals)
        } yield AuditMaintenance.PartIn(l.col, vs.toSeq),
        for {
          op <- Gen.oneOf("<=", ">=", "<", ">")
          v <- Gen.oneOf(vals)
        } yield AuditMaintenance.PartCmp(l.col, op, v))
    })
  } yield (levels, tuples.toSeq, preds)

  // ---- the property -----------------------------------------------------

  private def renderSelector(preds: Seq[AuditMaintenance.PartPred]): String =
    preds.map {
      case AuditMaintenance.PartEq(c, v) =>
        s"$c=${AuditMaintenance.quoteVal(v)}"
      case AuditMaintenance.PartIn(c, vs) =>
        s"$c IN (${vs.map(AuditMaintenance.quoteVal).mkString(",")})"
      case AuditMaintenance.PartCmp(c, op, v) =>
        s"$c $op ${AuditMaintenance.quoteVal(v)}"
    }.mkString(", ")

  private def runCase(levels: Seq[Level], tuples: Seq[Seq[Any]],
      preds: Seq[AuditMaintenance.PartPred], caseId: Int): Unit = {
    val rootDir = java.nio.file.Files
      .createTempDirectory(s"graft_selprop_$caseId")
    try runCaseIn(rootDir.toString, levels, tuples, preds, caseId)
    finally deleteTree(rootDir)
  }

  private def runCaseIn(root: String, levels: Seq[Level],
      tuples: Seq[Seq[Any]], preds: Seq[AuditMaintenance.PartPred],
      caseId: Int): Unit = {
    val relOf: Seq[Any] => String = t =>
      levels.zip(t).map { case (l, v) =>
        s"${l.col}=${AuditPartition.encode(v)}" }.mkString("/")
    tuples.foreach(t => java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(root, relOf(t).split('/'): _*)))
    val schema = StructType(levels.map(l => StructField(l.col,
      if (l.isLong) LongType else StringType, nullable = true)))
    val specs = levels.map(l => AuditPartition.Spec(l.col, None))
    val ctx = s"case $caseId: levels=$levels preds=$preds tuples=$tuples"

    // 0. the rendered selector re-parses to the same conjuncts
    val rendered = renderSelector(preds)
    assert(AuditMaintenance.parsePartitionFilter(rendered, "TEST") === preds,
      s"$ctx rendered='$rendered'")

    // 1. model
    val expected = tuples.filter(t => preds.forall { p =>
      val li = levels.indexWhere(_.col == p.col)
      modelHolds(levels(li).isLong, t(li), p)
    }).map(relOf).toSet

    // 2. dir selector over the real tree
    if (expected.isEmpty) {
      val ex = intercept[IllegalArgumentException](
        AuditMaintenance.partitionSelector(root, specs, preds, "TEST",
          schema))
      assert(ex.getMessage.contains("matches no partition"), s"$ctx: $ex")
    } else {
      val sel = AuditMaintenance.partitionSelector(root, specs, preds,
        "TEST", schema)
      assert(sel === Some(expected), ctx)
    }

    // 3. the row-level twin, evaluated by Spark on the dirs' tuples
    val rows = tuples.map(t => Row.fromSeq(t))
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), schema)
    val rowSel = df.where(AuditMaintenance.rowPredicate(schema, preds))
      .collect().map(r => relOf(r.toSeq)).toSet
    assert(rowSel === expected, s"$ctx (row predicate)")
  }

  test("selected dirs ≡ independent model ≡ Spark row predicate, over " +
    "randomized multi-level layouts and =/IN/range selector mixes") {
    val params = Gen.Parameters.default
    var seed = Seed(20260816L) // deterministic: every run checks the same 60 cases
    (0 until 60).foreach { i =>
      val (levels, tuples, preds) = genCase.pureApply(params, seed, 100)
      seed = seed.next
      runCase(levels, tuples, preds, i)
    }
  }
}
