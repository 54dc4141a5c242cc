package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.ops.{DedupOps, MetricOps, RelationalOps, SkewOps}
import org.apache.spark.grafttest.CheckpointDirs

/** ScalaCheck-generated property tests (SURVEY.md §5): structural
  * invariants the reference relies on but never asserts. Plain ScalaCheck
  * generators sampled under fixed seeds (scalatest-plus bridge is not in
  * the offline dependency set).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val rowsGen = Gen.listOfN(40,
    Gen.zip(Gen.choose(1L, 8L), Gen.choose(0, 3), Gen.choose(-100.0, 100.0)))

  test("property: unpivot preserves count(rows) * |non-null measures|") {
    samples(rowsGen, 4).foreach { rows =>
      val df = rows.zipWithIndex
        .map { case ((k, _, v), i) => (i.toLong, v, -v, k.toDouble) }
        .toDF("id", "a", "b", "c")
      val out = RelationalOps.unpivot(df, Seq("id"), Seq("a", "b", "c"))
      assert(out.count() === rows.length * 3L)
    }
  }

  test("property: full-outer metrics join never loses a key") {
    samples(rowsGen, 4).foreach { rows =>
      val df = rows.map { case (k, g, v) => (k, g % 2 == 0, v) }
        .toDF("key", "left_side", "v")
      val l = df.filter($"left_side").groupBy($"key")
        .agg(count(lit(1)).as("n_a"))
      val r = df.filter(!$"left_side").groupBy($"key")
        .agg(count(lit(1)).as("n_b"))
      val joined = MetricOps.fullOuterMetricsJoin(l, r, Seq("key"))
      val allKeys = df.select($"key").distinct().count()
      assert(joined.count() === allKeys)
    }
  }

  test("property: MAPE clamp never divides by < 1e-8") {
    val gen = Gen.listOfN(20,
      Gen.zip(Gen.choose(-1e-9, 1e-9), Gen.choose(-5.0, 5.0)))
    samples(gen, 4).foreach { pairs =>
      val df = pairs.map { case (a, p) => ("K", a, p) }
        .toDF("k", "actual", "pred")
      val out = graft.ops.TimeSeriesOps.errorMetrics(df, "k", "actual",
        "pred").collect()
      // actual ~ 0 everywhere: clamped denominator keeps mape finite
      assert(!out.head.getAs[Double]("mape").isInfinite)
      assert(!out.head.getAs[Double]("mape").isNaN)
    }
  }

  test("property: salted join equals plain join") {
    samples(rowsGen, 4).foreach { rows =>
      val big = rows.zipWithIndex
        .map { case ((k, _, v), i) => (k, i.toLong, v) }
        .toDF("key", "row_id", "v")
      val small = (1L to 8L).map(k => (k, s"dim_$k")).toDF("key", "name")
      val salted = SkewOps.saltedJoin(big, small, "key", 4, Seq("row_id"))
      val plain = big.join(small, Seq("key"))
      assert(salted.count() === plain.count())
      assert(salted.select(sum($"v")).collect().head.getDouble(0) ===
        plain.select(sum($"v")).collect().head.getDouble(0))
    }
  }

  test("property: resample+ffill emits a complete grid, filled after first obs") {
    val gen = Gen.listOfN(15, Gen.zip(Gen.oneOf("A", "B"),
      Gen.choose(0, 600), Gen.choose(1.0, 9.0)))
    samples(gen, 3).foreach { rows =>
      val df = rows.map { case (k, sec, v) =>
        (k, new java.sql.Timestamp(1704067200000L + sec * 1000L), v)
      }.toDF("event_type", "ts", "value")
      val out = graft.ops.TimeSeriesOps
        .resampleLastFfill(df, "ts", "event_type", "value", 30)
      // per-key grid (pandas per-series semantics): each key covers
      // exactly its OWN [min,max] bucket span, contiguously
      val rowsOut = out.orderBy($"event_type", $"bucket").collect()
      val expected = rows.groupBy(_._1).map { case (k, krows) =>
        val secs = krows.map(r => (1704067200L + r._2) / 30 * 30)
        k -> ((secs.max - secs.min) / 30 + 1)
      }
      rowsOut.groupBy(_.getAs[String]("event_type")).foreach {
        case (k, krows) =>
          assert(krows.length.toLong === expected(k),
            s"key $k grid size")
          // the first bucket of a per-key grid is an observed bucket, so
          // forward-fill leaves no null anywhere
          assert(krows.forall(
            !_.isNullAt(krows.head.fieldIndex("value_ffill"))),
            s"key $k has unfilled buckets")
      }
      assert(rowsOut.length.toLong === expected.values.sum)
    }
  }

  test("property: minhash candidate pairs are ordered and banded") {
    val gen = Gen.listOfN(6, Gen.oneOf(
      "alpha beta gamma delta epsilon zeta eta theta",
      "one two three four five six seven eight nine",
      "alpha beta gamma delta epsilon zeta eta iota"))
    samples(gen, 3).foreach { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val pairs = DedupOps.minhashCandidates(df).collect()
      pairs.foreach { r =>
        assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
        val b = r.getAs[Long]("n_shared_bands")
        assert(b >= 1L && b <= 4L)
      }
    }
  }

  test("property: dupClusters equals brute-force connected components") {
    val edgeGen = Gen.listOfN(12,
      Gen.zip(Gen.choose(0L, 9L), Gen.choose(0L, 9L)))
      .map(_.collect { case (a, b) if a != b =>
        (math.min(a, b), math.max(a, b)) }.distinct)
      .suchThat(_.nonEmpty)
    // every round must report its frontier as an observed metric (a
    // missing one throws): pin that under the session as it is, with AQE
    // off, and with reliable checkpoints, restoring each afterwards
    val aqeKey = "spark.sql.adaptive.enabled"
    val aqePrev = spark.conf.get(aqeKey)
    val ckptPrev = spark.sparkContext.getCheckpointDir
    val postures: Seq[(() => Unit) => Unit] = Seq(
      body => body(),
      body => {
        spark.conf.set(aqeKey, "false")
        try body() finally spark.conf.set(aqeKey, aqePrev)
      },
      body => CheckpointDirs.withDir(spark.sparkContext,
        java.nio.file.Files.createTempDirectory("graft_prop_ckpt")
          .toString)(body()))
    for (posture <- postures; edges <- samples(edgeGen, 5)) posture { () =>
      val got = DedupOps.dupClusters(edges.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // brute-force: iterate adjacency min-propagation to fixpoint
      val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val adj = (edges ++ edges.map(_.swap))
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      var lbl = verts.map(v => v -> v).toMap
      var changed = true
      while (changed) {
        changed = false
        verts.foreach { v =>
          val m = (lbl(v) +: adj.getOrElse(v, Nil).map(lbl)).min
          if (m < lbl(v)) { lbl += v -> m; changed = true }
        }
      }
      assert(got === lbl)
    }
    assert(spark.conf.get(aqeKey) === aqePrev)
    assert(spark.sparkContext.getCheckpointDir === ckptPrev)
  }

  test("dupClusters resolves a 200-hop duplicate chain within 20 rounds") {
    // a path graph 0-1-2-...-199 has component diameter 199: plain
    // min-label propagation needs 199 rounds, pointer doubling O(log n).
    // maxIter=20 passing proves the doubling works (and that hitting the
    // cap now throws instead of silently returning a wrong clustering).
    val chain = (0L until 199L).map(i => (i, i + 1))
    val got = DedupOps.dupClusters(chain.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 200)
    assert(got.values.forall(_ === 0L))
  }

  test("property: snapshotDiff(df, df) is all-unchanged; swap flips " +
      "added/removed") {
    val dfs = samples(rowsGen, 6).map(_.map { case (k, g, v) =>
      (k * 4 + g, v) }.distinctBy(_._1).toDF("k", "v"))
    dfs.foreach { df =>
      val self = RelationalOps.snapshotDiff(df, df, "k", Seq("v"))
        .collect()
      assert(self.forall(_.getString(1) === "unchanged"))
    }
    val a = dfs(0); val b = dfs(1)
    def statusMap(x: org.apache.spark.sql.DataFrame,
                  y: org.apache.spark.sql.DataFrame) =
      RelationalOps.snapshotDiff(x, y, "k", Seq("v")).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    val ab = statusMap(a, b); val ba = statusMap(b, a)
    assert(ab.keySet === ba.keySet)
    ab.foreach { case (k, st) =>
      val expected = st match {
        case "added" => "removed"
        case "removed" => "added"
        case other => other
      }
      assert(ba(k) === expected, s"key $k: $st vs ${ba(k)}")
    }
  }

  test("property: applying the changeset distilled from snapshotDiff " +
      "reconstructs the after snapshot exactly") {
    val dfs = samples(rowsGen, 6).map(_.map { case (k, g, v) =>
      (k * 4 + g, v) }.distinctBy(_._1).toDF("k", "v"))
    dfs.grouped(2).foreach { case Seq(before, after) =>
      val changes = RelationalOps.snapshotDiff(before, after, "k", Seq("v"))
        .filter($"status" =!= "unchanged")
        .join(after, Seq("k"), "left")
        .select($"k",
          when($"status" === "removed", "D").otherwise("U").as("op"),
          lit(1L).as("seq"), $"v")
      val rebuilt = RelationalOps.applyChangeSet(before, changes, Seq("k"))
      assert(rebuilt.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
        === after.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet)
    }
  }

  test("property: rrfFuse is invariant to input row order") {
    val listGen = Gen.listOfN(15,
      Gen.zip(Gen.choose(1L, 30L), Gen.choose(1, 100)))
    samples(listGen, 5).foreach { rows =>
      val distinct = rows.distinctBy(_._1)
      val l1 = distinct.toDF("id", "rnk")
      val l2 = distinct.reverse.toDF("id", "rnk")
      val base = distinct.map { case (id, r) => (id, r + 1) }
        .toDF("id", "rnk")
      def out(x: org.apache.spark.sql.DataFrame) =
        graft.ops.RetrievalOps.rrfFuse(Seq("a" -> x, "b" -> base))
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(out(l1) === out(l2))
    }
  }

  test("property: winnowFps kernel matches an independent naive " +
       "reference over random word soups, n, and w") {
    def naive(text: String, n: Int, w: Int): Set[String] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      def hex15(s: String): String =
        md.digest(s.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(15)
      val words = text.split(" ", -1)
      val last = math.max(words.length - n, 0)
      val keys = (0 to last).map { i =>
        val gram = words.slice(i, math.min(i + n, words.length)).mkString(" ")
        hex15(gram) + f"$i%08d"
      }
      val lastStart = math.max(keys.length - w, 0)
      (0 to lastStart).map { s =>
        keys.slice(s, math.min(s + w, keys.length)).min.take(15)
      }.toSet
    }
    val word = Gen.oneOf("a", "bb", "ccc", "dd", "e", "ff")
    val textGen = for {
      len <- Gen.choose(0, 30)
      ws <- Gen.listOfN(len, word)
    } yield ws.mkString(" ")
    val caseGen = Gen.zip(textGen, Gen.choose(1, 4), Gen.choose(1, 5))
    samples(caseGen, 150).foreach { case (text, n, w) =>
      val got = graft.functions.HashKernels
        .winnowFps(org.apache.spark.unsafe.types.UTF8String.fromString(text),
          n, w)
        .toArray[org.apache.spark.unsafe.types.UTF8String](
          org.apache.spark.sql.types.StringType)
        .map(_.toString).toSet
      assert(got === naive(text, n, w), s"text='$text' n=$n w=$w")
    }
  }

  test("property: bigramLogProb is invariant to doc order and input " +
       "partitioning") {
    // the model build collects truncated vocab/bigram heads with
    // deterministic (count desc, token) tie-breaks — so neither the row
    // order of the corpus nor its physical partitioning may move a score
    val word = Gen.oneOf("a", "b", "c", "d", "e")
    val docGen = for {
      len <- Gen.choose(0, 12)
      ws <- Gen.listOfN(len, word)
    } yield ws.mkString(" ")
    val corpusGen = Gen.listOfN(12, docGen)
    samples(corpusGen, 5).foreach { texts =>
      val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      def score(rs: Seq[(Long, String)], parts: Int) =
        graft.ops.TextOps
          .bigramLogProb(rs.toDF("doc_id", "text").repartition(parts),
            topV = 3, topB = 4)
          .collect()
          .map(r => r.getLong(0) -> (r.getLong(1), r.isNullAt(2), {
            if (r.isNullAt(2)) 0.0 else r.getDouble(2)
          })).toMap
      val base = score(rows, 4)
      assert(score(rows.reverse, 1) === base, "doc order moved a score")
      assert(score(new scala.util.Random(42).shuffle(rows), 7) === base,
        "partitioning moved a score")
    }
  }

  test("property: packSequences coordinates equal the brute-force " +
      "concat-and-chunk on random corpora") {
    val gen = Gen.listOfN(30,
      Gen.zip(Gen.oneOf("s", "t", "u"), Gen.choose(0L, 900L)))
    samples(gen, 5).foreach { rows =>
      val budget = 128
      val docs = rows.zipWithIndex.map { case ((src, tok), i) =>
        (i.toLong, src, tok) }
      val got = graft.ops.CorpusOps.packSequences(
          docs.toDF("doc_id", "source", "tok"), "doc_id", "source",
          $"tok", budget)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("tok_start"), r.getAs[Long]("start_seq"),
            r.getAs[Long]("end_seq"), r.getAs[Long]("head_offset"))).toMap
      val want = docs.filter(_._3 > 0).groupBy(_._2).flatMap {
        case (_, g) =>
          g.sortBy(_._1).foldLeft((0L, Map.empty[Long, (Long, Long, Long,
              Long)])) { case ((at, acc), (id, _, tok)) =>
            (at + tok, acc + (id -> (at, at / budget,
              (at + tok - 1) / budget, at % budget)))
          }._2
      }
      assert(got === want)
    }
  }

  test("property: packManifest fragments tile every sequence to budget " +
      "and every doc to [0, tokens) on random corpora") {
    val gen = Gen.listOfN(25,
      Gen.zip(Gen.oneOf("s", "t"), Gen.choose(1L, 700L)))
    samples(gen, 5).foreach { rows =>
      val budget = 96
      val docs = rows.zipWithIndex.map { case ((src, tok), i) =>
        (i.toLong, src, tok) }
      val frags = graft.ops.CorpusOps.packManifest(
          docs.toDF("doc_id", "source", "tok"), "doc_id", "source",
          $"tok", budget)
        .collect().map(r => (r.getAs[String]("source"),
          r.getAs[Long]("seq"), r.getAs[Long]("doc_id"),
          r.getAs[Long]("slice_start"), r.getAs[Long]("slice_len")))
      assert(frags.forall(_._5 > 0), "zero-length fragment")
      // sequences: every seq of a group fills to budget except its last,
      // and seq ids are contiguous from 0
      frags.groupBy(_._1).foreach { case (src, g) =>
        val bySeq = g.groupBy(_._2).view.mapValues(_.map(_._5).sum).toMap
        val maxSeq = bySeq.keys.max
        assert(bySeq.keys.toSeq.sorted === (0L to maxSeq),
          s"$src: seq gap")
        bySeq.foreach { case (seq, fill) =>
          if (seq < maxSeq) assert(fill === budget.toLong, s"$src seq $seq")
          else assert(fill > 0 && fill <= budget)
        }
        // group total == sum of its docs' tokens
        val want = docs.filter(_._2 == src).map(_._3).sum
        assert(bySeq.values.sum === want)
      }
      // docs: slices are contiguous from 0 and sum to the doc's tokens
      frags.groupBy(_._3).foreach { case (id, g) =>
        val slices = g.sortBy(_._4).map(f => (f._4, f._4 + f._5)).toSeq
        assert(slices.head._1 === 0L)
        slices.sliding(2).foreach {
          case Seq((_, e), (s2, _)) => assert(e === s2, s"doc $id gap")
          case _ =>
        }
        assert(slices.last._2 === docs(id.toInt)._3)
      }
    }
  }

  test("property: epochShuffleShards equals the JVM md5 reference " +
      "(shard = u32(hex8) mod n, order = (hex, id))") {
    val gen = Gen.listOfN(50, Gen.choose(0L, 100000L)).map(_.distinct)
    samples(gen, 5).foreach { ids =>
      val n = 6
      def hex(id: Long): String = java.security.MessageDigest
        .getInstance("MD5").digest(s"epX|$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val want = ids.map { id =>
        val h = hex(id)
        id -> (java.lang.Long.parseLong(h.take(8), 16) % n, h)
      }.toMap
      val wantPos = want.toSeq.groupBy(_._2._1).flatMap { case (_, g) =>
        g.sortBy { case (id, (_, h)) => (h, id) }.zipWithIndex
          .map { case ((id, _), i) => id -> (i + 1L) }
      }
      val got = graft.ops.CorpusOps.epochShuffleShards(
          ids.map(Tuple1(_)).toDF("doc_id"), "doc_id", n, "epX")
        .collect().map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("shard"), r.getAs[Long]("shard_pos"))).toMap
      assert(got.view.mapValues(_._1).toMap ===
        want.view.mapValues(_._1).toMap)
      assert(got.view.mapValues(_._2).toMap === wantPos)
    }
  }

  test("property: unimax waterfill quotas respect caps, exhaust the " +
      "budget, and give every non-capped stratum the same share") {
    // strata of >= 8 docs at fracs >= ~0.5 so every stratum survives the
    // deterministic coin (quota reconstruction needs all strata present)
    val gen = Gen.listOfN(4, Gen.choose(8, 40)).map(_.zipWithIndex)
    samples(gen, 6).foreach { sizes =>
      val rows = sizes.flatMap { case (n, s) =>
        (1 to n).map(i => ((s * 1000 + i).toLong, s"s$s")) }
      val budget = rows.size / 2 + 1
      val plan = graft.ops.CorpusOps.unimaxRebalance(
          rows.toDF("doc_id", "lang"), "lang", "doc_id",
          targetTotal = budget.toLong)
        .select("lang", "n_docs", "quota").distinct().collect()
        .map(r => r.getString(0) ->
          (r.getAs[Long]("n_docs"), r.getAs[Double]("quota"))).toMap
      // surviving strata carry quota <= cap; full-budget conservation
      // holds when the budget is feasible (it is: budget < total docs)
      plan.values.foreach { case (n, q) =>
        assert(q >= 0.0 && q <= n + 1e-6) }
      val totalQuota = plan.values.map(_._2).sum
      assert(math.abs(totalQuota - budget) < 1e-3,
        s"quota sum $totalQuota != budget $budget")
      // uniformity: every NON-capped stratum gets the same share, up to
      // the 1e-6 per-step quantization (the LAST stratum absorbs the
      // accumulated rounding residue by construction)
      val uncapped = plan.values.collect {
        case (n, q) if q < n - 1e-6 => q }
      if (uncapped.nonEmpty)
        assert(uncapped.max - uncapped.min <= 1e-5,
          s"non-capped strata diverge: $uncapped")
    }
  }

  test("property: ewmaLast stays within the series' [min, max]") {
    val serGen = Gen.listOfN(25, Gen.choose(-50.0, 50.0))
    samples(serGen, 8).foreach { vals =>
      val df = vals.zipWithIndex.map { case (v, i) =>
        ("k", new java.sql.Timestamp(1000L * (i + 1)), v) }
        .toDF("key", "ts", "value")
      val got = graft.ops.TimeSeriesOps
        .ewmaLast(df, "key", "ts", "value", 0.3)
        .collect().head.getDouble(2)
      assert(got >= vals.min - 1e-6 && got <= vals.max + 1e-6,
        s"ewma $got outside [${vals.min}, ${vals.max}]")
    }
  }
}
