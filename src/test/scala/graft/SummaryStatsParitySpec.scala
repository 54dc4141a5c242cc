package graft

import org.apache.spark.sql.functions._
import graft.ops.StatsOps

/** The sort+rank summary (scale path) must reproduce the buffer-based
  * `percentile` summary exactly — same interpolation formula, same
  * rounding — across group sizes incl. n=1 and even/odd counts.
  */
class SummaryStatsParitySpec extends SparkSpec {
  import spark.implicits._

  test("summaryStatsSorted matches summaryStats on mixed group sizes") {
    val rows = Seq(
      ("a", 1.0), ("a", 2.0), ("a", 10.0), ("a", 4.5), // n=4 (even)
      ("b", 7.25), ("b", 3.5), ("b", 9.0),             // n=3 (odd)
      ("c", 42.0)                                      // n=1
    ) ++ (0 until 97).map(i => ("d", (i * 37 % 101) + 0.25)) // n=97
    val df = rows.toDF("k", "v")
    val a = StatsOps.summaryStats(df, "k", "v")
      .orderBy($"k").collect().map(_.toSeq)
    val b = StatsOps.summaryStatsSorted(df, "k", "v")
      .orderBy($"k").collect().map(_.toSeq)
    assert(a.toSeq === b.toSeq)
  }

  test("summaryStatsSorted ignores null values like percentile does") {
    val df = Seq(("a", Some(1.0)), ("a", None), ("a", Some(3.0)))
      .toDF("k", "v")
    val out = StatsOps.summaryStatsSorted(df, "k", "v").collect().head
    assert(out.getAs[Long]("n") === 2L)
    assert(out.getAs[Double]("median") === 2.0)
  }

  test("all-null group surfaces with n=0 in BOTH paths identically") {
    val df = Seq(("a", Some(1.0)), ("a", Some(3.0)),
      ("z", None), ("z", None)).toDF("k", "v")
    val a = StatsOps.summaryStats(df, "k", "v")
      .orderBy($"k").collect().map(_.toSeq)
    val b = StatsOps.summaryStatsSorted(df, "k", "v")
      .orderBy($"k").collect().map(_.toSeq)
    assert(a.length === 2, "all-null group must not be dropped")
    assert(a.toSeq === b.toSeq)
    val z = StatsOps.summaryStatsSorted(df, "k", "v")
      .filter($"k" === "z").collect().head
    assert(z.getAs[Long]("n") === 0L)
    assert(z.isNullAt(z.fieldIndex("median")))
  }

  test("psiDrift: identical populations score ~0, a shifted one scores " +
       "high, hand-computed two-bin case matches") {
    // group "same": ref and cur identical -> psi == 0 exactly (shares
    // equal, ln(1) = 0). group "moved": all mass moves bins.
    val rows =
      (1 to 20).map(i => ("same", if (i % 2 == 0) "0" else "1",
        (i % 5) * 2.0)) ++
      (1 to 10).map(_ => ("moved", "0", 1.0)) ++
      (1 to 10).map(_ => ("moved", "1", 9.0))
    val df = rows.toDF("g", "side", "v")
    val out = StatsOps.psiDrift(df, "g", "side", "0", "v",
        lo = 0.0, hi = 10.0, nBins = 2)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out("same") === 0.0)
    // hand-computed: p = (10.5/11, 0.5/11), q = (0.5/11, 10.5/11)
    val p = 10.5 / 11; val q = 0.5 / 11
    val expect = BigDecimal((p - q) * math.log(p / q) +
      (q - p) * math.log(q / p))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out("moved") === expect)
  }

  test("psiDrift: a group present in only one population still emits a " +
       "row (psi null, absent side n=0)") {
    val rows =
      (1 to 6).map(i => ("both", if (i % 2 == 0) "0" else "1", i * 1.0)) ++
      (1 to 4).map(i => ("gone", "0", i * 1.0)) ++  // vanished from cur
      (1 to 3).map(i => ("new", "1", i * 1.0))      // never in ref
    val df = rows.toDF("g", "side", "v")
    val out = StatsOps.psiDrift(df, "g", "side", "0", "v",
        lo = 0.0, hi = 10.0, nBins = 2)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out.keySet === Set("both", "gone", "new"),
      "one-sided groups must not be dropped")
    val gone = out("gone")
    assert(gone.isNullAt(gone.fieldIndex("psi")))
    assert(gone.getAs[Long]("n_ref") === 4L)
    assert(gone.getAs[Long]("n_cur") === 0L)
    val nw = out("new")
    assert(nw.isNullAt(nw.fieldIndex("psi")))
    assert(nw.getAs[Long]("n_ref") === 0L)
    assert(nw.getAs[Long]("n_cur") === 3L)
  }

  test("psi_drift at sf0.001 gives identical rows with ANSI on and off") {
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(sf).isDirectory, s"$sf missing")
    def rows(ansi: String) = {
      val prev = spark.conf.get("spark.sql.ansi.enabled")
      spark.conf.set("spark.sql.ansi.enabled", ansi)
      try SparkEntry.queries("psi_drift")(spark, sf).collect()
        .map(_.toSeq.mkString("|")).sorted.toSeq
      finally spark.conf.set("spark.sql.ansi.enabled", prev)
    }
    val off = rows("false")
    assert(off.nonEmpty)
    assert(rows("true") === off)
    assert(spark.conf.get("spark.sql.ansi.enabled") === "false")
  }

  test("keySkewProfile: top-K heaviest keys, shares, and the max/mean " +
       "skew factor") {
    import spark.implicits._
    // key a: 6 rows, b: 2, c: 1, d: 1  -> n=10, distinct=4, mean=2.5
    val df = (Seq.fill(6)("a") ++ Seq.fill(2)("b") ++ Seq("c", "d"))
      .toDF("k")
    val rows = StatsOps.keySkewProfile(df, "k", topK = 2).collect()
      .map(r => r.getAs[String]("k") -> r).toMap
    assert(rows.keySet === Set("a", "b"), "top-2 by count")
    assert(rows("a").getAs[Long]("cnt") === 6L)
    assert(rows("a").getAs[Double]("share") === 0.6)
    assert(rows("a").getAs[Long]("n_total") === 10L)
    assert(rows("a").getAs[Long]("n_distinct") === 4L)
    // skew = max_cnt / (n/distinct) = 6 / 2.5 = 2.4, same on every row
    assert(rows("a").getAs[Double]("skew_factor") === 2.4)
    assert(rows("b").getAs[Double]("skew_factor") === 2.4)
    // tie at cnt=1 broken by key order when K reaches into the tie
    val top3 = StatsOps.keySkewProfile(df, "k", topK = 3).collect()
      .map(_.getAs[String]("k")).toSet
    assert(top3 === Set("a", "b", "c"))
  }
}
