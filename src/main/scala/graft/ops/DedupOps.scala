package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines
  * (north-star ops beyond the reference surface; the reference's own
  * duplicate-rate EDA is SURVEY.md A10).
  *
  * Hash choice: MD5-hex (engine-portable, identical in Spark / DuckDB /
  * any SQL engine) rather than Spark's xxhash64, so every stage is
  * oracle-checkable. Lexicographic min over hex strings is a valid
  * min-hash (uniform over the hash codomain).
  *
  * Scale notes: every variant is a groupBy/join on a hash-derived key —
  * uniformly distributed, so no skew; candidate generation via LSH bands
  * keeps the join linear-ish instead of the O(n^2) all-pairs.
  */
object DedupOps {

  /** Test-only hook: when bound non-null, [[dupClusters]] hands every
    * round's final (post-AQE) physical-plan string to it right after the
    * eager checkpoint — the observability handle the plan-shape pin spec
    * uses (listener-based capture misses the rounds: checkpoint
    * materialization is an RDD job, not a tracked Dataset action).
    * Thread-confined (`DynamicVariable.withValue`) so concurrent
    * dupClusters callers — e.g. parallel test suites — cannot interleave
    * plan strings from different runs into one pin buffer.
    */
  private[graft] val ccPlanHook =
    new scala.util.DynamicVariable[String => Unit](null)

  /** [[bloomDecontaminate]] auto-sizing: bits per distinct eval gram
    * (~10% load at k=3) and the bitset cap (16 MiB as a plan literal). */
  val BloomBitsPerGram = 16L
  val BloomMaxBits = 1L << 27

  /** Exact dedup: keep min(doc_id) per identical text, report group size.
    * Hash-groupBy on md5(text) (not raw text) keeps shuffle rows narrow —
    * at 100 TB you shuffle 32-byte keys, not document bodies.
    */
  def exactDuplicateGroups(docs: DataFrame, idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame =
    docs.select(md5(col(textCol)).as("text_hash"), col(idCol))
      .groupBy(col("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** A10: duplicate-rate per group (Milestone4 cell 9
    * `text.duplicated().mean()`): 1 - distinct/count. The double division
    * is over exact longs, so it is bit-identical across engines.
    */
  def duplicateRate(docs: DataFrame, byCol: String,
                    textCol: String = "text"): DataFrame =
    docs.groupBy(col(byCol))
      .agg(count(lit(1)).as("n_docs"),
        // distinct over md5, not bodies: the distinct-aggregate expand
        // shuffles 32-byte keys instead of full documents at scale
        countDistinct(md5(col(textCol))).as("n_distinct"))
      .withColumn("dup_rate",
        (col("n_docs") - col("n_distinct")).cast("double") / col("n_docs"))

  /** Word n-gram shingles (sorted distinct array). */
  def wordShingles(textCol: String, n: Int): Column = {
    val words = split(col(textCol), " ")
    val idx = sequence(lit(0), greatest(size(words) - n, lit(0)))
    array_sort(array_distinct(transform(idx, i =>
      concat_ws(" ", slice(words, i + 1, lit(n))))))
  }

  /** Kernel twin of [[wordShingles]] (graft.functions.WordShingles): one
    * whole-stage-codegen call per doc instead of the interpreted
    * transform+distinct+sort lambda chain — element-for-element identical
    * output (TextHashExprSpec parity pin). The declarative column above
    * stays as the oracle-shaped reference and feeds the parity twins
    * ([[minhashSignaturesDeclarative]], [[simhashDeclarative]]).
    */
  def wordShinglesKernel(textCol: String, n: Int): Column =
    graft.functions.TextHashFunctions.word_shingles(col(textCol), n)

  /** MinHash signatures as a one-pass native kernel
    * ([[graft.functions.MinHashSigs]]): a per-doc signature is a scalar
    * function of the text, so the scale-right shape is a narrow projection —
    * no shingle explode (O(shingles) rows), no groupBy shuffle. The
    * declarative twin below is the oracle-shaped reference implementation.
    * Output: idCol, m0..m{k-1}.
    */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        shingleWords: Int, k: Int): DataFrame = {
    val sig = graft.functions.TextHashFunctions
      .minhash_sigs(col(textCol), shingleWords, k)
    val cols = col(idCol) +: (0 until k).map(i => sig.getItem(i).as(s"m$i"))
    Rebalance(docs).select(cols: _*)
  }

  /** Declarative MinHash twin (explode + groupBy-min): keeps every md5
    * projection and the min aggregate in whole-stage codegen with partial
    * aggregation, at the cost of materializing the shingle explode and one
    * shuffle. Retained for parity testing and as the form a SQL-only user
    * would write.
    */
  def minhashSignaturesDeclarative(docs: DataFrame, idCol: String,
                                   textCol: String, shingleWords: Int,
                                   k: Int): DataFrame = {
    val exploded = Rebalance(docs).select(col(idCol),
      explode(wordShingles(textCol, shingleWords)).as("s"))
    val mins = (0 until k).map(i =>
      min(md5(concat(lit(i.toString), lit("|"), col("s")))).as(s"m$i"))
    exploded.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
  }

  /** Per-(doc, band) LSH band hashes — the shared banding stage behind
    * [[minhashCandidates]] and the on-disk [[writeMinhashIndex]] /
    * [[minhashIndexProbe]] pair. Output: (idCol, band, band_hash).
    */
  def minhashBands(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text", shingleWords: Int = 3,
                   k: Int = 16, bands: Int = 4): DataFrame = {
    val rows = k / bands
    val sig = minhashSignatures(docs, idCol, textCol, shingleWords, k)
    val bandCols = (0 until bands).map { b =>
      val cols = (b * rows until (b + 1) * rows).map(i => col(s"m$i"))
      struct(lit(b).as("band"), md5(concat_ws("|", cols: _*)).as("band_hash"))
    }
    sig.select(col(idCol), explode(array(bandCols: _*)).as("kv"))
      .select(col(idCol), col("kv.band"), col("kv.band_hash"))
  }

  /** MinHash + LSH near-dup candidate pairs: signature of k hashes split
    * into `bands` bands; docs sharing any band hash become a candidate
    * pair. Output: (doc_a, doc_b, n_shared_bands), doc_a < doc_b.
    * The self-join is on the band hash — uniform keys, broadcastable
    * band-bucket sizes, no quadratic blowup unless true near-dups exist.
    */
  def minhashCandidates(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text", shingleWords: Int = 3,
                        k: Int = 16, bands: Int = 4): DataFrame =
    minhashCandidatesBands(
      minhashBands(docs, idCol, textCol, shingleWords, k, bands), idCol)

  /** [[minhashCandidates]] plus the MinHash Jaccard ESTIMATE — the
    * cheap triage stage of the standard LSH pipeline (bands nominate →
    * signature agreement estimates J → exact verification runs only on
    * what survives the estimate threshold). For each banded candidate
    * pair: n_agree = hashes where the two k-signatures match and
    * est_jaccard = n_agree/k, the unbiased MinHash estimator with
    * standard error ~sqrt(J(1-J)/k). Signatures ride the band join as
    * an array column, so the estimate is a post-aggregate projection —
    * no extra scan and no per-pair text access (at corpus scale the
    * texts never move; the k·hash arrays do).
    */
  def minhashEstimatedPairs(docs: DataFrame, idCol: String = "doc_id",
                            textCol: String = "text",
                            shingleWords: Int = 3,
                            k: Int = 16, bands: Int = 4): DataFrame = {
    require(k % bands == 0, s"k=$k not divisible by bands=$bands")
    val rows = k / bands
    val sigArr = graft.functions.TextHashFunctions
      .minhash_sigs(col(textCol), shingleWords, k)
    val bandCols = (0 until bands).map { b =>
      val cols = (b * rows until (b + 1) * rows)
        .map(i => col("_sig").getItem(i))
      struct(lit(b).as("band"),
        md5(concat_ws("|", cols: _*)).as("band_hash"))
    }
    val banded = Rebalance(docs)
      .select(col(idCol), sigArr.as("_sig"))
      .select(col(idCol), col("_sig"),
        explode(array(bandCols: _*)).as("kv"))
      .select(col(idCol), col("_sig"), col("kv.band"),
        col("kv.band_hash"))
    val agree = (0 until k).map(i =>
      when(col("_sa").getItem(i) === col("_sb").getItem(i), 1)
        .otherwise(0)).reduce(_ + _)
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
        col("a.band_hash") === col("b.band_hash") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_bands"),
        first(col("a._sig")).as("_sa"), first(col("b._sig")).as("_sb"))
      .withColumn("n_agree", agree)
      .select(col("doc_a"), col("doc_b"), col("n_shared_bands"),
        col("n_agree"),
        (col("n_agree").cast("double") / k).as("est_jaccard"))
  }

  /** Estimate-TRIAGED dedup apply — the full LSH pipeline at its 100 TB
    * cost shape: bands nominate candidates, the signature estimate
    * ([[minhashEstimatedPairs]]) splits them into sure-duplicate
    * (est >= `estHi` — no text access at all), sure-distinct
    * (est <= `estLo`), and an UNCERTAIN middle band where alone the
    * exact shingle-set Jaccard is computed and cut at
    * `jaccardThreshold`. Confirmed edges (sure ∪ verified) feed the
    * pointer-doubling components and the min-id survivors filter the
    * corpus — [[dupClusters]]' apply contract, but with the expensive
    * exact-verification join bounded to the estimate's uncertainty
    * band instead of every candidate. Wrong-side triage risk is the
    * estimator's ±sqrt(J(1-J)/k) tail; widen [lo, hi] to trade verify
    * volume for certainty. `estLo`/`estHi` are calibrated in n_agree/k
    * units, so `k`/`bands` must match the signature shape the thresholds
    * were chosen for — both forward to [[minhashEstimatedPairs]].
    */
  def minhashTriageApply(docs: DataFrame, jaccardThreshold: Double,
                         estLo: Double, estHi: Double,
                         idCol: String = "doc_id",
                         textCol: String = "text",
                         shingleWords: Int = 3,
                         k: Int = 16, bands: Int = 4): DataFrame = {
    require(estLo <= estHi, s"estLo=$estLo > estHi=$estHi")
    // both triage branches read the estimate frame; without the eager
    // checkpoint each branch re-runs the whole signature+band+agreement
    // pipeline (pair-count-sized frame — cheap to hold)
    val est = minhashEstimatedPairs(docs, idCol, textCol, shingleWords,
        k, bands)
      .transform(df => if (graft.PlanMode.isExplainOnly) df
        else df.localCheckpoint(eager = true))
    val sure = est.filter(col("est_jaccard") >= estHi)
      .select(col("doc_a"), col("doc_b"))
    val mid = est.filter(col("est_jaccard") < estHi &&
        col("est_jaccard") > estLo)
      .select(col("doc_a"), col("doc_b"))
    val sh = docs.select(col(idCol),
      explode(wordShinglesKernel(textCol, shingleWords)).as("s"))
    val cnt = sh.groupBy(col(idCol)).agg(count(lit(1)).as("_n"))
    val inter = mid
      .join(sh.select(col(idCol).as("doc_a"), col("s")), Seq("doc_a"))
      .join(sh.select(col(idCol).as("doc_b"), col("s")),
        Seq("doc_b", "s"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("_i"))
    val verified = mid
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .join(cnt.select(col(idCol).as("doc_a"), col("_n").as("_na")),
        Seq("doc_a"))
      .join(cnt.select(col(idCol).as("doc_b"), col("_n").as("_nb")),
        Seq("doc_b"))
      .filter(coalesce(col("_i"), lit(0L)).cast("double") /
        (col("_na") + col("_nb") - coalesce(col("_i"), lit(0L)))
        >= jaccardThreshold)
      .select(col("doc_a"), col("doc_b"))
    val clusters = dupClusters(sure.unionByName(verified))
    docs.join(clusters.filter(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id").as(idCol)), Seq(idCol), "left_anti")
  }

  /** [[minhashCandidates]] from a precomputed (idCol, band, band_hash)
    * frame — callers that also probe an index ([[graft.streaming.StreamingDedup]])
    * compute the signatures once, persist, and feed both consumers.
    */
  def minhashCandidatesBands(banded: DataFrame,
                             idCol: String = "doc_id"): DataFrame = {
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(b,
        col("a.band") === col("b.band") &&
        col("a.band_hash") === col("b.band_hash") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  /** Bucket id for the on-disk MinHash index layout: band × 16 + the
    * band hash's first hex digit — one int partition column, 16·`bands`
    * directories, uniform by construction (md5 digits are uniform). The
    * prefix width is the scale dial: one hex digit keeps directory
    * listing trivial at test scale; a 100 TB corpus widens it (2-3
    * digits → 256-4096 buckets/band) so each directory stays a bounded
    * scan unit — the pruning math is unchanged.
    */
  private def minhashBucket: Column =
    (col("band") * 16 +
      conv(substring(col("band_hash"), 1, 1), 16, 10).cast("int"))
      .as("bucket")

  /** Materialize a corpus's MinHash-LSH index: per-(doc, band) hashes
    * written as parquet PARTITIONED BY the [[minhashBucket]] id. This is
    * the incremental-ingest layout: deduplicating a new batch against a
    * 100 TB indexed corpus re-reads only the bucket directories the
    * batch's own band hashes name — never the corpus text, never the
    * full index ([[minhashIndexProbe]]). Same physical discipline as the
    * vector-side [[SimilarityOps.writeIvfIndex]].
    */
  def writeMinhashIndex(corpus: DataFrame, path: String,
                        idCol: String = "doc_id", textCol: String = "text",
                        shingleWords: Int = 3, k: Int = 16,
                        bands: Int = 4, mode: String = "overwrite"): Unit =
    IndexMaintenance.writeBase(
      minhashBands(corpus, idCol, textCol, shingleWords, k, bands)
        .withColumn("bucket", minhashBucket)
        // cluster rows by bucket before the partitioned write: otherwise
        // every input partition spills a file into every bucket directory
        // (files = partitions × buckets, all tiny) and probe-side listing/
        // footer overhead swamps the pruning win
        .repartition(col("bucket")),
      path, partitionCol = "bucket", mode = mode)

  /** Append precomputed (idCol, band, band_hash) rows to a written
    * MinHash index — the streaming-ingest fast path: the caller already
    * holds the batch's banded signatures (probe + self-check consumed
    * them), so the append reuses them instead of re-running the
    * signature kernel over the survivor text. The rows land as ONE flat
    * file in the index's L0 delta ([[IndexMaintenance.appendDelta]]) —
    * a dynamic-partition append into the bucket directories was measured
    * ~10× slower per micro-batch (one tiny file + committer rename per
    * touched bucket) and gets worse linearly with bucket width.
    * [[compactMinhashIndex]] folds the delta into the bucketed base.
    */
  def appendMinhashIndexBands(banded: DataFrame, path: String): Unit =
    IndexMaintenance.appendDelta(
      banded.withColumn("bucket", minhashBucket), path)

  /** Compact an appended MinHash index back to one file per bucket
    * directory. Streaming ingestion ([[graft.streaming.StreamingDedup]])
    * appends one file per touched bucket per micro-batch — LSM-style
    * write amplification that erodes the probe's
    * one-bounded-scan-per-bucket economics; periodic compaction restores
    * it. Manifest-commit swap semantics, concurrency contract, and the 100 TB
    * per-bucket variant: [[IndexMaintenance.compactBucketed]].
    */
  def compactMinhashIndex(spark: org.apache.spark.sql.SparkSession,
                          path: String, idCol: String = "doc_id"): Unit =
    // (id, band) uniquely identifies a band row — makes a crash-window
    // re-fold of delta rows collapse instead of duplicating
    IndexMaintenance.compactBucketed(spark, path, Seq(idCol, "band"))

  /** [[compactMinhashIndex]] with the bounded rewrite unit
    * ([[IndexMaintenance.compactBucketedIncremental]]): only the buckets
    * the delta touched rewrite. The dedup-key set lives HERE, with the
    * index schema — callers (the streaming in-loop cadence) must not
    * restate it.
    */
  def compactMinhashIndexIncremental(
      spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String = "doc_id"): Unit =
    IndexMaintenance.compactBucketedIncremental(spark, path,
      Seq(idCol, "band"))

  /** Probe a written MinHash index with a NEW batch: candidate near-dup
    * pairs between batch docs and indexed corpus docs (within-batch pairs
    * are [[minhashCandidates]]'s job). The batch's distinct bucket ids —
    * a driver-side list bounded by min(batch·bands, 16·bands) — become
    * static partition filters on the index scan, and the batch's band
    * rows ride a broadcast hash join, so probe cost scales with the
    * BATCH, not the corpus. Output: (doc_new, doc_corpus,
    * n_shared_bands). Signature params must match the index write.
    */
  def minhashIndexProbe(spark: org.apache.spark.sql.SparkSession,
                        path: String, batch: DataFrame,
                        idCol: String = "doc_id", textCol: String = "text",
                        shingleWords: Int = 3, k: Int = 16,
                        bands: Int = 4): DataFrame =
    minhashIndexProbeBands(spark, path,
      minhashBands(batch, idCol, textCol, shingleWords, k, bands), idCol)

  /** [[minhashIndexProbe]] from a precomputed (idCol, band, band_hash)
    * frame (see [[minhashCandidatesBands]]). The probe side is
    * batch-bounded by contract (it rides the broadcast side of the join
    * below), so it is materialized ONCE, driver-side: the signature
    * kernel runs exactly one time no matter what the caller passes, the
    * bucket list for the index's partition pruning folds from the same
    * array (no second job), and the join side becomes a LocalRelation —
    * no cache or checkpoint blocks are ever registered, so a long-lived
    * JVM probing many batches has nothing to leak and no deferred
    * ContextCleaner dependency (the earlier internal localCheckpoint
    * relied on driver GC to free its blocks). A caller-persisted frame
    * keeps its own lifecycle untouched — its cache serves the one read.
    */
  def minhashIndexProbeBands(spark: org.apache.spark.sql.SparkSession,
                             path: String, banded: DataFrame,
                             idCol: String = "doc_id"): DataFrame = {
    val proj = banded.withColumn("bucket", minhashBucket)
      .select(col(idCol).as("doc_new"), col("band"), col("band_hash"),
        col("bucket"))
    val rows = proj.collect()
    val buckets = rows.map(_.getInt(3)).distinct.toIndexedSeq
    val probeLocal = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), proj.schema)
    // base partition-pruned + L0 delta rows (IndexMaintenance layout)
    val idx = IndexMaintenance.readBucketed(spark, path, buckets)
    idx.join(broadcast(probeLocal), Seq("bucket", "band", "band_hash"))
      .groupBy(col("doc_new"), col(idCol).as("doc_corpus"))
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  /** Exact n-gram Jaccard similarity for candidate pairs (verification
    * stage after LSH, or direct on a bounded subset): explode shingle sets,
    * self-join on shingle, |A∩B| / (|A|+|B|-|A∩B|).
    *
    * `maxDf` caps the document frequency of join-key shingles — standard
    * candidate pruning: a shingle shared by f documents contributes f²/2
    * join rows on ONE key, so a single stopword gram ("of the") would be
    * a quadratic hot key at corpus scale. Shingles with df > maxDf are
    * dropped from the INTERSECTION counts only (set sizes stay exact), so
    * jaccard is a lower bound for pairs sharing hot shingles and exact
    * otherwise — same trade as MinHash banding. The hot-shingle list is
    * tiny by construction (few grams exceed any sane cap), so the
    * exclusion is a broadcast anti-join.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text", n: Int = 3,
                        minJaccard: Double = 0.0,
                        maxDf: Int = Int.MaxValue): DataFrame = {
    // one evaluation of the shingle pipeline: each exploded row carries
    // its doc's FULL distinct-shingle count alongside (sizes must count
    // every shingle, including ones the df cap later drops from the
    // intersection), so neither a sizes join-back nor a second scan of
    // the projection exists
    val exploded = Rebalance(docs)
      .select(col(idCol), wordShinglesKernel(textCol, n).as("shingles"))
      .select(col(idCol), size(col("shingles")).as("sz"),
        explode(col("shingles")).as("sh"))
    if (maxDf == Int.MaxValue) {
      // unbounded df: a hot shingle's doc list must not buffer in one
      // array — fall back to the self-join form (re-evaluates the
      // projection per side, but never OOMs a task)
      val inter = exploded.as("a")
        .join(exploded.as("b"),
          col("a.sh") === col("b.sh") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
        .groupBy(col(s"a.$idCol").as("doc_a"), col("a.sz").as("sz_a"),
          col(s"b.$idCol").as("doc_b"), col("b.sz").as("sz_b"))
        .agg(count(lit(1)).as("n_common"))
      inter
        .withColumn("jaccard", col("n_common").cast("double") /
          (col("sz_a") + col("sz_b") - col("n_common")))
        .filter(col("jaccard") >= minJaccard)
        .select(col("doc_a"), col("doc_b"), col("n_common"), col("jaccard"))
    } else {
      // bounded df: same shape as winnowDupPairs — ONE collect_list per
      // shingle (the cap bounds the array AND implements the hot-shingle
      // exclusion in the same aggregate) + in-array pair expansion; the
      // self-join form re-evaluates the whole explode+shingle projection
      // once per side plus once for the hot-list (measured ~2× on the
      // structurally identical winnowing op)
      val byShingle = exploded
        .groupBy(col("sh"))
        .agg(array_sort(collect_list(struct(col(idCol), col("sz"))))
          .as("ds"))
        .filter(size(col("ds")).between(2, maxDf))
      byShingle
        .select(explode(flatten(transform(col("ds"), (x, i) =>
          transform(slice(col("ds"), i + 2, size(col("ds"))), y =>
            struct(x.getField(idCol).as("doc_a"),
              x.getField("sz").as("sz_a"),
              y.getField(idCol).as("doc_b"),
              y.getField("sz").as("sz_b")))))).as("p"))
        .groupBy(col("p.doc_a").as("doc_a"), col("p.sz_a").as("sz_a"),
          col("p.doc_b").as("doc_b"), col("p.sz_b").as("sz_b"))
        .agg(count(lit(1)).as("n_common"))
        .withColumn("jaccard", col("n_common").cast("double") /
          (col("sz_a") + col("sz_b") - col("n_common")))
        .filter(col("jaccard") >= minJaccard)
        .select(col("doc_a"), col("doc_b"), col("n_common"), col("jaccard"))
    }
  }

  /** Duplicated n-gram coverage — per-document fraction of its distinct
    * word n-grams that also occur in at least `minDf` documents corpus-wide.
    * This is the standard corpus-quality signal for boilerplate-heavy pages
    * (C4/RefinedWeb-style "duplicate n-gram fraction" filters): a doc whose
    * grams are mostly shared with the rest of the corpus is template text
    * even when no single whole-doc duplicate exists.
    *
    * Scale shape: grams travel as 60-bit md5-derived longs, never strings.
    * Document frequency is a window count over the gram hash — ONE
    * evaluation of the explode+md5 projection and one shuffle to
    * h-partitioning, where the equivalent df-aggregate+join form would
    * re-evaluate the explode per reference (Spark shares no common
    * subplans) and shuffle it twice. The window's in-partition sort is
    * over narrow (long, long) rows, far cheaper than a second md5 pass.
    * Two shuffles total (window partitioning, per-doc agg). Collision
    * bound ≈ n_distinct_grams² / 2⁶¹ — negligible below ~10⁸ grams; widen
    * the key to two longs past that. Skew note: a pathologically hot gram
    * (a boilerplate phrase in 10⁸ docs) lands its whole partition on one
    * task under window partitioning (AQE does not split window skew); the
    * df-aggregate+join form (measured SLOWER end-to-end at both sf0.1
    * [1.9 vs 1.3 s] and sf1 [14.3 vs ~7 s] — the join re-evaluates the
    * explode and shuffles it twice — but its partial aggregation absorbs
    * per-key skew map-side) or a known-boilerplate pre-filter is the
    * escape hatch at that regime. A third spelling — checkpoint the gram
    * stream once, aggregate df per hash, LEFT-join only the FILTERED
    * dup-set (df >= minDf, small, AQE-broadcastable) back onto the
    * checkpointed stream — was measured r11 and is also slower at both
    * scales (1.09 vs 0.78 s at sf0.1, 2.36 vs 1.78 s at sf1): the
    * checkpoint materialization plus the extra aggregate job cost more
    * than the window's narrow (long, long) sort. The window form is the
    * measured local optimum; its fresh sf0.1→sf1 exponent is 0.36
    * (SCALE.md — the old 0.75 row was a stale r7 measurement).
    *
    * Reference analog: the duplicate/spam text-quality filtering over tweet
    * text (/root/reference/dataflow/stream_join.py spam heuristics), lifted
    * to the corpus level.
    */
  def dupNgramCoverage(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text", n: Int = 3,
                       minDf: Int = 2): DataFrame = {
    val grams = Rebalance(docs)
      .select(col(idCol), explode(wordShinglesKernel(textCol, n)).as("g"))
      .select(col(idCol),
        conv(substring(md5(col("g")), 1, 15), 16, 10).cast("long").as("h"))
    // wordShingles is distinct per doc, so the per-h count == distinct-doc df
    val byGram = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    grams.withColumn("df", count(lit(1)).over(byGram))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") >= minDf, 1L).otherwise(0L)).as("n_dup_grams"))
      .withColumn("dup_gram_frac",
        col("n_dup_grams").cast("double") / col("n_grams"))
  }

  /** Exact duplicated-substring removal — the ExactSubstr discipline of
    * Lee et al. 2021 (arXiv:2107.06499), re-expressed at word grain:
    * every n-word span that occurs anywhere else in the corpus keeps
    * only its globally FIRST occurrence (rank by (doc, position) over
    * the span hash — deterministic on any layout), the words covered by
    * later occurrences are cut, and each document reassembles from its
    * surviving words positionally. Unlike whole-doc/segment dedup this
    * removes the duplicated PASSAGE inside otherwise-unique documents —
    * the boilerplate/quotation case that inflates memorization.
    *
    * Shape at scale: one positional-gram explode (O(words) rows, 60-bit
    * uniform span hashes as shuffle keys), ONE ranked window over the
    * hash, a distinct coverage explode, and a per-doc reassembly
    * aggregation — no self-join, no all-pairs anything. Suffix-automaton
    * exactness on arbitrary-length spans is out of scope; any duplicated
    * passage of >= n words is caught because each of its n-gram
    * occurrences ranks > 1.
    *
    * Output: (idCol, n_words, kept_words, kept_text) for EVERY input doc
    * (fully-duplicated docs come back with kept_words=0, empty text).
    */
  def exactSubstrDedup(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text", n: Int = 8): DataFrame = {
    require(n >= 2, s"n=$n")
    val w = org.apache.spark.sql.expressions.Window
    val base = Rebalance(docs)
      .select(col(idCol), split(col(textCol), " ").as("_ws"))
      .withColumn("_nw", size(col("_ws")).cast("long"))
    val grams = base.filter(col("_nw") >= n)
      .select(col(idCol), posexplode(
          transform(sequence(lit(0), col("_nw") - n),
            i => concat_ws(" ", slice(col("_ws"), i + 1, lit(n)))))
        .as(Seq("_pos", "_g")))
      .select(col(idCol), col("_pos").cast("long").as("_pos"),
        conv(substring(md5(col("_g")), 1, 15), 16, 10).cast("long")
          .as("_h"))
    val byGram = w.partitionBy(col("_h")).orderBy(col(idCol), col("_pos"))
    // rank >= 2 <=> an earlier occurrence of the same span exists
    val covered = grams.withColumn("_rk", row_number().over(byGram))
      .filter(col("_rk") >= 2)
      .select(col(idCol),
        explode(sequence(col("_pos"), col("_pos") + (n - 1))).as("_wi"))
      .distinct()
    val exploded = base.select(col(idCol),
      posexplode(col("_ws")).as(Seq("_wi", "_w")))
      .withColumn("_wi", col("_wi").cast("long"))
    val kept = exploded.join(covered, Seq(idCol, "_wi"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("kept_words"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("_wi"), col("_w")))),
          s => s.getField("_w"))).as("kept_text"))
    base.select(col(idCol), col("_nw").as("n_words"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol), col("n_words"),
        coalesce(col("kept_words"), lit(0L)).as("kept_words"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003 — the MOSS
    * local-fingerprinting algorithm): positional word n-gram hashes, a
    * sliding window of `w` consecutive hashes, and the minimum hash of
    * each window selected (leftmost on ties — any fixed rule preserves
    * the guarantee). Any passage of ≥ w+n-1 shared words between two
    * documents is GUARANTEED to contribute at least one common
    * fingerprint — the passage-level dup signal whole-doc MinHash can't
    * give (a doc that merely embeds a long quoted chunk still collides on
    * that chunk's fingerprints).
    *
    * Engine-portable selection: the minimum is by (15-char md5 prefix,
    * position), the order the string `hex15(gram) ++ zero-padded pos`
    * induces — so tie-breaks and the selected fingerprints replay exactly
    * in SQL. A per-doc fingerprint set is a pure scalar function of the
    * text, so the scale-right shape is the one-pass native kernel
    * ([[graft.functions.WinnowFps]], doGenCode): a narrow codegen'd
    * projection + explode, no shuffle, no window pass
    * ([[winnowFingerprintsDeclarative]] is the SQL-shaped twin; kernel
    * parity pinned by TextHashExprSpec). Density ~2/(w+1) of positions.
    * Output: (idCol, fp), distinct per doc.
    */
  def winnowFingerprints(docs: DataFrame, idCol: String = "doc_id",
                         textCol: String = "text", n: Int = 4,
                         w: Int = 4): DataFrame =
    Rebalance(docs).select(col(idCol),
      explode(graft.functions.TextHashFunctions
        .winnow_fps(col(textCol), n, w)).as("fp"))

  /** Declarative winnowing twin (posexplode + window-min): the
    * oracle-shaped reference implementation the native kernel must match
    * fingerprint-for-fingerprint (TextHashExprSpec parity). Retained as
    * the form a SQL-only user would write; costs a shuffle + window pass
    * the kernel doesn't.
    *
    * Hard-won structure notes: the gram array expression must be
    * referenced EXACTLY once (a sibling `size(gramArr)` in the explode's
    * select re-evaluates the interpreted transform per OUTPUT row — O(L²)
    * per doc, measured 20×); full-window detection reuses the sliding
    * frame itself (`count` over the SAME window spec as the min shares
    * one WindowExec); a lead()-built gram variant measured slower than
    * the transform lambda.
    */
  def winnowFingerprintsDeclarative(
      docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 4, w: Int = 4): DataFrame = {
    val words = split(col(textCol), " ")
    val gramArr = transform(
      sequence(lit(0), greatest(size(words) - n, lit(0))),
      i => concat_ws(" ", slice(words, i + 1, lit(n))))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos")).rowsBetween(0, w - 1)
    Rebalance(docs)
      .select(col(idCol), posexplode(gramArr).as(Seq("pos", "g")))
      .select(col(idCol), col("pos"),
        concat(substring(md5(col("g")), 1, 15),
          lpad(col("pos").cast("string"), 8, "0")).as("key"))
      .withColumn("sel", min(col("key")).over(win))
      .withColumn("frame_n", count(lit(1)).over(win))
      // full windows only; pos 0 also kept so a short doc (fewer than w
      // grams) still fingerprints from its one truncated window
      .filter(col("frame_n") === w || col("pos") === 0)
      .select(col(idCol), substring(col("sel"), 1, 15).as("fp"))
      .distinct()
  }

  /** Passage-level near-dup pairs from shared winnowing fingerprints:
    * docs sharing ≥ `minShared` selected fingerprints. Fingerprints with
    * document frequency > `maxDf` are dropped entirely (same
    * quadratic-hot-key economics as [[ngramJaccardPairs]] — a boilerplate
    * passage shared by f docs costs f²/2 pair rows).
    *
    * Because `maxDf` bounds each fingerprint's doc list, pairs come from
    * ONE `collect_list` aggregate over the fingerprint frame plus a
    * bounded in-array pair expansion — not a self-join, which would
    * re-evaluate the whole fingerprint pipeline once per join side plus
    * once for the hot-list filter (Spark shares no common subplans;
    * measured ~2× on this op). The expansion lambdas are interpreted but
    * run on ≤ maxDf-element arrays, and most fingerprints are singletons.
    * Output: (doc_a, doc_b, n_shared).
    */
  def winnowDupPairs(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text", n: Int = 4, w: Int = 4,
                     minShared: Int = 1, maxDf: Int = 1000): DataFrame = {
    val fps = winnowFingerprints(docs, idCol, textCol, n, w)
    val byFp = fps.groupBy(col("fp"))
      .agg(sort_array(collect_list(col(idCol))).as("ds"))
      .filter(size(col("ds")).between(2, maxDf))
    byFp
      .select(explode(flatten(transform(col("ds"), (x, i) =>
        transform(slice(col("ds"), i + 2, size(col("ds"))), y =>
          struct(x.as("doc_a"), y.as("doc_b")))))).as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** SimHash (64-bit) from word shingles: per-bit majority vote over
    * 64-bit shingle hashes (first 16 md5-hex chars big-endian — engine-
    * portable, so the signature itself is oracle-checkable). Computed by
    * the one-pass native kernel ([[graft.functions.SimHash64]]) — a narrow
    * codegen'd projection with no explode and no shuffle; at 100 TB the
    * signature stage is embarrassingly parallel map work. Near-dups =
    * pairs at small Hamming distance ([[simhashNearDups]]).
    */
  def simhash(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text", shingleWords: Int = 2): DataFrame =
    Rebalance(docs).select(col(idCol),
      graft.functions.TextHashFunctions
        .simhash64(col(textCol), shingleWords).as("simhash"))

  /** Declarative SimHash twin (explode + 64 bit-vote sums): pure built-in
    * algebra, one shuffle. The 64-bit hash is assembled from the md5 hex
    * in two 32-bit halves (`conv` parses each half exactly; a single
    * 16-char parse would overflow signed long). Retained for parity
    * testing — the native kernel must reproduce it bit-for-bit.
    */
  def simhashDeclarative(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text", shingleWords: Int = 2): DataFrame = {
    val hx = md5(col("s"))
    val hi = conv(substring(hx, 1, 8), 16, 10).cast("long")
    val lo = conv(substring(hx, 9, 8), 16, 10).cast("long")
    val exploded = Rebalance(docs)
      .select(col(idCol),
        explode(wordShingles(textCol, shingleWords)).as("s"))
      .withColumn("_h", shiftleft(hi, 32).bitwiseOR(lo))
    val bitVotes = (0 until 64).map { b =>
      val bit = shiftrightunsigned(col("_h"), b).bitwiseAND(lit(1L))
      sum(bit * 2 - 1).as(s"bit_$b")
    }
    val votes = exploded.groupBy(col(idCol))
      .agg(bitVotes.head, bitVotes.tail: _*)
    val sig = (0 until 64)
      .map(b => when(col(s"bit_$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    votes.select(col(idCol), sig.as("simhash"))
  }

  /** Decontamination: drop training documents sharing any word n-gram
    * with the evaluation set (the GPT-3-style 13-gram discipline, n
    * configurable). The eval side's distinct gram set is small by
    * definition — Catalyst broadcasts it — so the train side streams
    * through a broadcast semi-join + anti-join with no big shuffle.
    */
  def decontaminate(train: DataFrame, test: DataFrame,
                    idCol: String = "doc_id", textCol: String = "text",
                    n: Int = 5): DataFrame = {
    // wordShingles is already per-doc distinct, so repetitive docs emit
    // each gram once into the explode — no extra dedup pass needed here
    val testGrams = test
      .select(explode(wordShinglesKernel(textCol, n)).as("g"))
      .distinct()
    val contaminated = Rebalance(train)
      .select(col(idCol),
        explode(wordShinglesKernel(textCol, n)).as("g"))
      .join(broadcast(testGrams), Seq("g"))
      .select(col(idCol)).distinct()
    train.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Bloom-filter decontamination — the [[decontaminate]] contract for
    * when even the eval side's distinct gram set is too big to ride a
    * broadcast hash join: the eval grams collapse into an `numBits`-bit
    * Bloom bitset (`numBits/8` bytes REGARDLESS of eval size) that ships
    * into the plan as an array-of-longs literal, and the train side
    * probes it in a NARROW scan — no join at all, each doc folds its own
    * gram array against the literal. False positives over-flag at the
    * classical (1-(1-1/m)^{kn})^k rate (sized by `numBits`); false
    * negatives are impossible, which is the correct direction for
    * decontamination.
    *
    * Portability: the k hash functions are disjoint 8-hex windows of the
    * gram's MD5 reduced mod `numBits` — deterministic and replayable by
    * any engine (the oracle checks the exact flags, false positives
    * included). Output: every train doc with `n_grams` and the
    * `bloom_hit` contamination flag (filter or route downstream).
    *
    * Sizing: `numBits = 0` (the default) sizes the bitset FROM THE EVAL
    * SIDE — one cheap distinct-gram count, then the next power of two
    * >= 16 bits/gram (k=3 at >= 16 bits/entry bounds the load at
    * 1-e^(-3/16) ~ 17% and the classical FP rate at ~0.5%), floored at
    * 64 and capped
    * at 2^27 (a 16 MiB plan literal — past that the honest scale path is
    * the broadcast-join [[decontaminate]] or a partitioned filter, not a
    * bigger literal). The doubling rule is integer-exact so an oracle
    * replays it with a recursive doubling CTE, no floating-point log2.
    * Pass an explicit power of two to pin the size instead.
    */
  def bloomDecontaminate(train: DataFrame, test: DataFrame,
                         idCol: String = "doc_id", textCol: String = "text",
                         n: Int = 5, numBits: Int = 0,
                         numHashes: Int = 3): DataFrame = {
    require(numHashes >= 1 && numHashes <= 4, s"numHashes=$numHashes")
    val sizedBits =
      if (numBits > 0) numBits
      else {
        val grams = test
          .select(explode(wordShinglesKernel(textCol, n)).as("g"))
          .distinct().count()
        val target = math.min(grams * BloomBitsPerGram, BloomMaxBits)
        var b = 64L
        while (b < target) b *= 2
        b.toInt
      }
    require(sizedBits >= 64 && (sizedBits & (sizedBits - 1)) == 0,
      s"numBits=$sizedBits must be a power of two >= 64")
    // k positions from ONE md5: disjoint 8-hex windows (higher-order
    // lambdas evaluate interpreted with no common-subexpression
    // elimination, so the digest must be computed once explicitly)
    def posFromHex(h: Column): Seq[Column] = (0 until numHashes).map(i =>
      conv(substring(h, i * 8 + 1, 8), 16, 10).cast("long") % sizedBits)
    def positions(g: Column): Seq[Column] = posFromHex(md5(g))
    // build: fold eval-gram bit positions into <= numBits/64 (word, bits)
    // rows with a map-side-partial bit_or — driver/collect cost is bounded
    // by the bitset size, never by the eval corpus
    val setWords = test.select(explode(wordShinglesKernel(textCol, n)).as("g"))
      .select(explode(array(positions(col("g")): _*)).as("p"))
      .groupBy((col("p") / 64).cast("int").as("w"))
      .agg(bit_or(call_function("shiftleft", lit(1L),
        (col("p") % 64).cast("int"))).as("bits"))
      .collect().map(r => r.getInt(0) -> r.getLong(1))
    val bitWords = new Array[Long](sizedBits / 64)
    setWords.foreach { case (w, bits) => bitWords(w) = bits }
    // probe side: ONE native kernel call per doc
    // ([[graft.functions.HashKernels.bloomProbe]] — codegen'd, md5 once
    // per distinct gram, early-exit on the first hit gram). The previous
    // declarative projection (`exists(transform(grams, md5), h =>
    // positions(h) all set)`) is semantically identical — same distinct
    // gram set, same md5-hex windows, same bitset test, replayed by the
    // same oracle — but higher-order lambdas evaluate INTERPRETED with a
    // string `conv` per hash per gram: measured 31 s task CPU / 2.0 s
    // wall at sf0.1 vs ~2 s / 0.7 s for the kernel (r18 optimization;
    // parity spec in DedupSimSpec).
    val probe = graft.functions.TextHashFunctions
      .bloom_probe(col(textCol), n, numHashes, sizedBits, bitWords)
    Rebalance(train)
      .select(col(idCol), probe.as("_bp"))
      .select(col(idCol), col("_bp").getField("n_grams").as("n_grams"),
        col("_bp").getField("bloom_hit").as("bloom_hit"))
  }

  /** Dedup clusters: connected components over candidate pairs by
    * min-label propagation with pointer doubling — each round every
    * vertex (1) adopts the smallest label among itself and its neighbors,
    * then (2) shortcuts through its label's own label
    * (`label(v) := label(label(v))`, the path-halving step of
    * Hash-to-Min / GraphX-style CC). Labels are doc ids and only ever
    * decrease, so the shortcut is always valid and stays inside the
    * component; with it the propagation distance doubles per round and
    * the loop converges in O(log(component diameter)) rounds — a
    * million-hop duplicate chain resolves in ~20. The driver only
    * coordinates the loop; all data stays distributed. Per-round cost:
    * one aggregate + join over the edges INCIDENT TO LAST ROUND'S
    * CHANGED VERTICES (delta messaging — see roundFrame; identical
    * label trajectory to full messaging, measured-equal outputs) plus
    * the O(V) doubling self-join, so the dominant edge join shrinks as
    * components converge instead of re-scanning every edge every
    * round. The cached edge frame itself is BUCKET-PRUNED in late
    * rounds: edges carry `_eb = pmod(hash(dst), edgeBuckets)` and are
    * sorted on it within partitions before caching, so every in-memory
    * columnar batch holds a narrow `_eb` range; each round collects the
    * frontier's distinct buckets (driver list bounded by `edgeBuckets`)
    * and, once the frontier is SPARSE (≤ edgeBuckets/8 buckets — a wide
    * frontier prunes nothing while still paying per-row evaluation),
    * filters the next round's edge side with OR-of-`In` chunks of
    * ≤10 literals — the exact predicate shapes the cached-batch stats
    * pruner understands (`In`/`Or`; chunking keeps the optimizer from
    * rewriting to the unsupported `InSet`) — so converged-tail rounds
    * skip ≥ 7/8 of the cached batches instead of re-reading O(E) rows
    * per round. The filter is superset-safe (every edge whose
    * dst is in the frontier hashes into a frontier bucket), so output
    * and round trajectory are bit-identical to the unpruned loop.
    * Input pairs
    * (doc_a < doc_b); output (doc_id, cluster_id = min doc id in the
    * component). Throws `IllegalStateException` if `maxIter` rounds pass
    * without convergence rather than returning a wrong clustering, and
    * if a round's materializing action reports no frontier metric.
    *
    * Edge-cache memory: the cache holds 2·|pairs| rows of three
    * numeric columns — measured bytes/edge and the sizing rule live in
    * SCALE.md §CC memory sizing. On heaps below that budget set
    * SPARK_GRAFT_CC_EDGE_LEVEL (see [[edgeStorageLevel]]) so the fill
    * spills instead of pressuring execution memory.
    *
    * Each round's result is eagerly checkpointed: iterative plans
    * otherwise nest the previous round's plan (twice, with the doubling
    * join), so the logical plan — and Catalyst's analysis cost — grows
    * exponentially with rounds. Checkpointing keeps every round's plan
    * O(1). When the session has a checkpoint directory configured
    * (`spark.sparkContext.setCheckpointDir` — the cluster posture), each
    * round uses RELIABLE `checkpoint()`: round state lives in files, so
    * an executor loss replays nothing and in-memory block lifecycle is
    * moot. Without one (local dev), rounds fall back to
    * `localCheckpoint` and the superseded round's blocks are freed
    * synchronously each iteration.
    */
  /** The CC edge-cache LAYOUT of [[dupClusters]] (its measured memory
    * footprint is in SCALE.md §CC memory sizing): both edge directions,
    * an `_eb` bucket tag, hash(dst)-partitioned into exactly P
    * partitions. Returns (frame, B, P).
    *
    * B is snapped to a MULTIPLE of the session shuffle parallelism P:
    * _eb = pmod(hash(dst), B) nests inside the partition
    * (= pmod(hash(dst), P) — same Murmur3 hash on both sides) only when
    * P | B, and then each partition holds exactly B/P distinct _eb
    * values, so a within-partition _eb sort gives single-_eb columnar
    * batches. With the session default P=32 and edgeBuckets=256 the
    * snap is the identity (B=256).
    *
    * The frame is HASH(dst)-PARTITIONED at fill: every CC round joins
    * the edges on dst, so pre-partitioning pays ONE O(E) shuffle at
    * fill and deletes the per-round O(E) exchange the join otherwise
    * re-inserts every iteration (the dominant per-round mover at sf10).
    * The partition count is pinned to P explicitly — an AQE-coalesced
    * count would break both the B/P nesting and the claim that
    * per-round joins reuse this partitioning as-is.
    */
  private[graft] def edgeLayout(pairs: DataFrame, edgeBuckets: Int)
      : (DataFrame, Int, Int) = {
    val P = pairs.sparkSession.sessionState.conf.numShufflePartitions
    val B = P * math.max(1, math.round(edgeBuckets.toDouble / P).toInt)
    val frame = pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .withColumn("_eb", pmod(hash(col("dst")), lit(B)))
      .repartition(P, col("dst"))
    (frame, B, P)
  }

  /** Storage level for the CC edge cache — MEMORY_AND_DISK (the
    * `Dataset.cache()` default) unless SPARK_GRAFT_CC_EDGE_LEVEL names
    * another level (`MEMORY_AND_DISK_SER`, `DISK_ONLY`, ...): the
    * memory-governed posture knob for heaps below the SCALE.md sizing
    * budget, where keeping the O(E) cache out of the storage pool lets
    * execution memory breathe (the batch-stat frontier pruning still
    * applies — batch min/max stats live with the batch regardless of
    * medium). Output is identical at every level.
    */
  private[graft] def edgeStorageLevel
      : org.apache.spark.storage.StorageLevel =
    sys.env.get("SPARK_GRAFT_CC_EDGE_LEVEL")
      .map(org.apache.spark.storage.StorageLevel.fromString)
      .getOrElse(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  def dupClusters(pairs: DataFrame, maxIter: Int = 20,
                  edgeBuckets: Int = 256): DataFrame = {
    // (uppercase names can't bind in a tuple pattern — they'd be read
    // as stable-identifier matches — hence the two-step)
    val layout = edgeLayout(pairs, edgeBuckets)
    val edgesPlain = layout._1
    val B = layout._2
    val P = layout._3
    def ebOf(c: Column): Column = pmod(hash(c), lit(B))
    // don't register a cache entry in plan-audit mode (nothing executes).
    // The within-partition sort on _eb is a LOCAL sort (no shuffle) paid
    // once at cache fill; it gives every cached columnar batch a tight
    // _eb min/max so the late-round frontier filter prunes whole batches.
    val edges =
      if (graft.PlanMode.isExplainOnly) edgesPlain
      else edgesPlain.sortWithinPartitions("_eb").persist(edgeStorageLevel)
    // OR-of-In chunks of <=10 literals: In stays `In` below the InSet
    // conversion threshold, and In/Or are what the cached-batch stats
    // pruner supports — one big isin would optimize into InSet and scan
    // every batch
    def bucketPred(bs: Array[Int]): Column =
      bs.grouped(10).map(g =>
        col("_eb").isin(g.map(Int.box).toIndexedSeq: _*))
        .reduce(_ || _)
    // seed with min(self, neighbors) — the first propagate round for the
    // price of the vertex-set aggregate (identity seeding would spend a
    // full join round reaching the same state)
    def seedFrame = edges.groupBy(col("src"))
      .agg(min(col("dst")).as("_nmin"))
      .select(col("src").as("doc_id"),
        least(col("src"), col("_nmin")).as("cluster_id"))
    // one propagate+double round over the previous labels, PRE-checkpoint.
    // DELTA MESSAGING: the nbrMin join runs against `changed` — only the
    // vertices whose label decreased last round — not the full label set.
    // Labels are min-monotone, so an UNCHANGED neighbor's label was
    // already delivered in the round after it last changed and is folded
    // into labels(v) by induction; per-round labels are therefore
    // IDENTICAL to full messaging (same trajectory, same round count,
    // same output) while the dominant O(E) join shrinks with the changed
    // set — after a couple of rounds only the frontier of long chains is
    // active. Round 1 passes the whole seed as `changed` (every vertex's
    // seeded label is news to its neighbors).
    def roundFrame(labels: DataFrame, changed: DataFrame,
                   buckets: Option[Array[Int]]): DataFrame = {
      // engage the filter only when the frontier is SPARSE (<= B/8
      // buckets): a wide frontier prunes no batches while the OR-of-In
      // chain still evaluates per edge row — measured +10 s on a 14M-edge
      // round whose frontier spanned 255/256 buckets. At <= B/8 the
      // filter is <= 4 In-chunks (cheap per row) and skips >= 7/8 of the
      // cached batches — the long-tail-chain regime it exists for.
      val edgeSide = buckets match {
        case Some(bs) if bs.length <= B / 8 =>
          edges.where(bucketPred(bs))
        case _ => edges
      }
      // shuffle_hash on the changed side: build the hash map on the
      // (frontier-bounded) changed set and STREAM the cached edges —
      // with the cache hash(dst)-partitioned this side of the join has
      // no exchange AND no sort (the SMJ default would re-sort the full
      // edge frame every round to join against a frontier)
      val nbrMin = edgeSide
        .join(changed.select(col("doc_id").as("dst"),
          col("cluster_id").as("nl")).hint("shuffle_hash"), Seq("dst"))
        .groupBy(col("src").as("doc_id")).agg(min(col("nl")).as("nmin"))
      // carry the pre-round label through as _old so the convergence
      // check below is a scan of the already-materialized checkpoint,
      // not an extra join job per round. The labels checkpoint is
      // hash(doc_id)-partitioned (see the repartition below), and
      // nbrMin is small (one row per changed-adjacent vertex), so the
      // shuffle_hash build on nbrMin leaves the labels side
      // exchange-free AND sort-free.
      val prop = labels.select(col("doc_id"), col("cluster_id").as("_old"))
        .join(nbrMin.hint("shuffle_hash"), Seq("doc_id"), "left")
        .select(col("doc_id"), col("_old"), least(col("_old"),
          coalesce(col("nmin"), col("_old"))).as("cluster_id"))
      // pointer doubling: follow the label one more hop. cluster_id is
      // itself a doc_id present in `prop`, and labels are min-monotone,
      // so label(label(v)) <= label(v) and is in the same component.
      // The right (renamed) side is alias-aware: its join key is the
      // original doc_id attribute, so when prop sits on hash(doc_id)
      // (checkpoint partitioning) only the LEFT side exchanges. The
      // shuffle_hash hint is EXPLICIT (r18): under AQE the runtime
      // already rewrote this to a hash join, but an AQE-off (sparse)
      // round would otherwise fall back to the planner's SortMergeJoin
      // default and pay two per-round O(V) sorts the round-plan spec
      // pins against.
      prop.as("l")
        .join(prop.select(col("doc_id").as("cluster_id"),
            col("cluster_id").as("_ll")).as("p").hint("shuffle_hash"),
          Seq("cluster_id"), "left")
        .select(col("doc_id"),
          least(col("cluster_id"),
            coalesce(col("_ll"), col("cluster_id"))).as("cluster_id"),
          col("_old"))
        // partitioning-preserving checkpoint: land each round's state on
        // hash(doc_id) so next round's prop join (doc_id), the changed
        // side of the edge join (dst := doc_id, alias-aware), and the
        // doubling join's renamed right side all reuse the checkpoint's
        // partitioning instead of re-exchanging O(V) rows per round.
        // Count pinned to P so it always matches the edge cache's
        // partitioning (an AQE-chosen count on either side would
        // re-insert the per-round exchange).
        .repartition(P, col("doc_id"))
    }
    // plan-audit mode: the loop's checkpoints explain as opaque
    // `Scan ExistingRDD`; return one round's composed dataflow instead —
    // the exact per-round operator shape (two joins + agg + double-hop)
    if (graft.PlanMode.isExplainOnly)
      return roundFrame(seedFrame, seedFrame, None)
        .select(col("doc_id"), col("cluster_id"))
    val reliable =
      pairs.sparkSession.sparkContext.getCheckpointDir.isDefined
    def ckpt(df: DataFrame): DataFrame = {
      val out =
        if (reliable) df.checkpoint(eager = true)
        else df.localCheckpoint(eager = true)
      // test-only observability (null in production — zero cost): after
      // the eager materialization the dataset's AQE plan is final; hand
      // its string to the plan-shape pin spec
      if (DedupOps.ccPlanHook.value != null)
        DedupOps.ccPlanHook.value(df.queryExecution.executedPlan.toString)
      out
    }
    var labels = ckpt(seedFrame)
    // AQE posture for the doubling rounds (r18 optimization, measured):
    // every degree of freedom AQE could exercise in a round is already
    // pinned — both joins are hinted shuffle_hash, the edge cache and
    // the label checkpoints are hash-partitioned at exactly P, and the
    // round output repartition(P, doc_id) is explicit — so adaptive
    // re-planning mainly splits each round into one scheduler job per
    // exchange (a per-round driver barrier tax), while its one real
    // lever, coalescing the nbrMin groupBy exchange, only matters while
    // the frontier is WIDE. So AQE is off only for rounds whose frontier
    // passed the B/8 pruning gate (the straggler regime, where nbrMin is
    // a handful of rows and the barrier tax is pure loss); wide-frontier
    // rounds keep the session setting. Measured against AQE on/off for
    // every round in OPTIMIZATION_r18.md and NOTES.md (r19).
    // The seed/edge-fill job above always stays adaptive: its upstream
    // pair pipeline (banding self-join + aggregates) is unpinned and
    // AQE's runtime join rewrites measurably help it. Restored in the
    // finally below; output is bit-identical at any setting (execution
    // strategy only — same trajectory, same labels).
    val sess = pairs.sparkSession
    val aqeKey = "spark.sql.adaptive.enabled"
    val aqePrev = sess.conf.get(aqeKey)
    // local mode: the checkpoint whose blocks the current `labels` lives
    // on; each round frees the superseded one NOW (blocking) — leaving
    // dead rounds to driver GC + ContextCleaner lets storage balloon
    // across a long JVM and the resulting concurrent cleanup can race
    // running tasks. Reliable mode keeps round state in files, not
    // storage blocks; superseded checkpoint files are reclaimed by the
    // ContextCleaner (spark.cleaner.referenceTracking.cleanCheckpoints).
    var current = labels
    // round 1: every seeded label is news (see roundFrame scaladoc), so
    // no bucket filter (None = scan all edges)
    var changedSet = labels
    var buckets: Option[Array[Int]] = None
    var i = 0
    var converged = false
    // opt-in loop telemetry (SPARK_GRAFT_CC_LOG): per-round wall time and
    // frontier width on stderr — the observability handle for adjudicating
    // where a big CC run spends its rounds
    val ccLog = sys.env.contains("SPARK_GRAFT_CC_LOG")
    // r19 (guide §2-barriers): the per-round frontier probe rides the
    // checkpoint-materializing action as OBSERVED METRICS instead of a
    // separate scan job over the just-written checkpoint. The changed
    // bucket set is a fixed B-bit bitmap built from ceil(B/64) `bit_or`
    // aggregates over when(cluster_id < _old) rows — bit_or is idempotent
    // under recomputation, so the reliable-checkpoint path (whose file
    // write re-runs the round RDD once more) cannot double-count. One
    // scheduler job per round now materializes the round AND reports the
    // frontier; at 100 TB the deleted probe was a full O(V)-partition
    // barrier per round. The metric node sits above the round's final
    // exchange and passes partitioning through (CollectMetricsExec
    // preserves child partitioning), so the checkpoint keeps its
    // hash(doc_id) layout and every downstream reuse claim holds.
    val nWords = (B + 63) / 64
    def frontierObserve(df: DataFrame): DataFrame = {
      val ebC = ebOf(col("doc_id"))
      val chg = col("cluster_id") < col("_old")
      val words = (0 until nWords).map { w =>
        bit_or(when(chg && ebC >= lit(w * 64) && ebC < lit(w * 64 + 64),
          call_function("shiftleft", lit(1L),
            (ebC - lit(w * 64)).cast("int")))
          .otherwise(lit(0L))).as(s"_fb$w")
      }
      df.observe("cc_frontier", words.head, words.tail: _*)
    }
    // the metric is a contract, not a best effort: a round whose
    // materializing action did not report it fails loudly instead of
    // paying a second scan job over the checkpoint
    def frontierFromMetrics(df: DataFrame, round: Int): Array[Int] = {
      val row = df.queryExecution.observedMetrics.getOrElse("cc_frontier",
        throw new IllegalStateException(s"dupClusters: round $round " +
          "reported no cc_frontier observed metric"))
      val out = Array.newBuilder[Int]
      var w = 0
      while (w < nWords) {
        val bits = if (row.isNullAt(w)) 0L else row.getLong(w)
        var b = 0
        while (b < 64) {
          if ((bits & (1L << b)) != 0L) out += w * 64 + b
          b += 1
        }
        w += 1
      }
      out.result()
    }
    try while (!converged && i < maxIter) {
      val rt0 = System.nanoTime()
      val sparseRound = buckets.exists(_.length <= B / 8)
      sess.conf.set(aqeKey, if (sparseRound) "false" else aqePrev)
      val roundDf = frontierObserve(roundFrame(labels, changedSet, buckets))
      val next = ckpt(roundDf)
      // labels are min-monotone: "changed" == strictly decreased; the
      // lazy filter below feeds next round's delta-messaging join.
      val changedRows = next.filter(col("cluster_id") < col("_old"))
      // read the frontier bitmap off the materializing action
      val frontierBuckets = frontierFromMetrics(roundDf, i + 1)
      if (ccLog) System.err.println(
        f"[dupClusters] round ${i + 1} ${(System.nanoTime() - rt0) / 1e9}%.2f s" +
          s" (frontier buckets ${frontierBuckets.length}/$B)")
      if (!reliable) CheckpointLifecycle.release(current)
      current = next
      labels = next.select(col("doc_id"), col("cluster_id"))
      changedSet = changedRows.select(col("doc_id"), col("cluster_id"))
      buckets = Some(frontierBuckets)
      converged = frontierBuckets.isEmpty
      i += 1
    } finally sess.conf.set(aqeKey, aqePrev)
    edges.unpersist()
    if (!converged) throw new IllegalStateException(
      s"dupClusters: not converged after $maxIter rounds " +
        "(component diameter > 2^maxIter is implausible; raise maxIter)")
    labels
  }

  /** Hamming distance between two simhash longs (for near-dup pairing). */
  def hammingDist(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs via band-of-bits LSH: the 64-bit signature is
    * split into 4 x 16-bit bands; docs sharing any band become candidates
    * (pigeonhole: every pair at hamming < 4 is guaranteed caught; larger
    * distances probabilistically). Candidates are verified with the exact
    * Hamming distance. Same linear-not-quadratic shape as the MinHash
    * banding — the self-join key is a uniform 16-bit value + band id.
    */
  def simhashNearDups(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text", shingleWords: Int = 2,
                      maxHamming: Int = 8): DataFrame =
    hammingNearDups(simhash(docs, idCol, textCol, shingleWords),
        idCol, "simhash", maxHamming)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        col("hamming"))

  /** Near-dup pairs over ANY 64-bit hamming-space signature column
    * (SimHash text fingerprints, aHash image fingerprints, ...) via
    * band-of-bits LSH: the signature splits into 4 x 16-bit bands; rows
    * sharing any band become candidates (pigeonhole: every pair at
    * hamming < 4 is guaranteed caught; larger distances
    * probabilistically), verified with the exact Hamming distance.
    * Linear-not-quadratic: the self-join key is a uniform 16-bit value +
    * band id. Output (id_a, id_b, hamming), id_a < id_b.
    */
  def hammingNearDups(sigs: DataFrame, idCol: String, sigCol: String,
                      maxHamming: Int): DataFrame = {
    val bandCols = (0 until 4).map(b => struct(lit(b).as("band"),
      shiftrightunsigned(col(sigCol), b * 16).bitwiseAND(lit(0xFFFFL))
        .as("band_val")))
    // both self-join sides re-evaluate the banding — fine: the upstream
    // is a narrow scan + signature projection (no shuffle), so recompute
    // beats materializing a checkpoint (measured for the simhash case)
    val banded = sigs.select(col(idCol), col(sigCol),
        explode(array(bandCols: _*)).as("kv"))
      .select(col(idCol), col(sigCol), col("kv.band"), col("kv.band_val"))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
        col("a.band_val") === col("b.band_val") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .agg(first(hammingDist(col(s"a.$sigCol"), col(s"b.$sigCol")))
        .as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }
}
