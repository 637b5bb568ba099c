package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.CountMinSketch
import graft.operators.Ckpt.PinOps

/** Deduplication operators for large-scale training-data pipelines.
  *
  * All candidate generation is BUCKETED (LSH bands / prefix-filtered
  * inverted indexes) — never an all-pairs cartesian — so every path here
  * scales as a shuffle-join on bucket keys. Verification joins back the
  * token/shingle sets and computes EXACT similarity, so results are
  * deterministic and oracle-checkable even though candidate generation is
  * probabilistic (with recall tuned to 1.0 at the declared thresholds).
  *
  * Everything is built from codegen'd `org.apache.spark.sql.functions`
  * (hash/xxhash64, higher-order array functions) — no driver-side loops,
  * and one UDF (the n-gram prefix order, which reads a broadcast sketch);
  * arithmetic stays within Long range so ANSI mode never overflows.
  */
object Dedup extends org.apache.spark.internal.Logging {

  /** Exact dedup: one surviving row id per distinct key combination.
    * 100 TB shape: a single hash-aggregate on the key columns. */
  def exact(df: DataFrame, keyCols: Seq[String], idCol: String): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Exact content dedup by fingerprint (md5 of a column). */
  def exactByHash(df: DataFrame, contentCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(contentCol).cast("binary")).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Corpus snapshot diff — the incremental-curation primitive: given
    * two versions of a corpus keyed by `idCol`, label every id as
    * `added` (only in `newDf`), `removed` (only in `oldDf`), `changed`
    * (both, content differs) or `unchanged`. Content comparison is by
    * `xxhash64(contentCol)`, computed per side BEFORE the join so the
    * exchange carries (id, 8-byte hash) — never the documents — and the
    * join is one id-keyed full-outer sort-merge, AQE-skew-splittable.
    * Downstream: re-run expensive stages (dedup registration,
    * embedding, scoring) on `added` ∪ `changed` only; retire `removed`
    * from stores. Contract: ids are unique within each snapshot (a
    * duplicated id multiplies through the full-outer join); a 64-bit
    * hash collision can mislabel a changed row `unchanged` with
    * probability ~n/2^64 — use a cryptographic digest column upstream
    * if that matters. */
  def corpusDiff(
      oldDf: DataFrame,
      newDf: DataFrame,
      idCol: String,
      contentCol: String): DataFrame = {
    val o = oldDf.select(col(idCol).as("__id"),
      xxhash64(col(contentCol)).as("__oh"))
    val n = newDf.select(col(idCol).as("__id"),
      xxhash64(col(contentCol)).as("__nh"))
    o.join(n, Seq("__id"), "full_outer")
      .select(col("__id").as(idCol),
        when(col("__oh").isNull, lit("added"))
          .when(col("__nh").isNull, lit("removed"))
          .when(col("__oh") =!= col("__nh"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
  }

  /** One-row summary of [[corpusDiff]]: `n_added | n_removed |
    * n_changed | n_unchanged` in a single aggregate. */
  def corpusDiffStats(
      oldDf: DataFrame,
      newDf: DataFrame,
      idCol: String,
      contentCol: String): DataFrame =
    corpusDiff(oldDf, newDf, idCol, contentCol).agg(
      count(when(col("status") === "added", 1)).as("n_added"),
      count(when(col("status") === "removed", 1)).as("n_removed"),
      count(when(col("status") === "changed", 1)).as("n_changed"),
      count(when(col("status") === "unchanged", 1)).as("n_unchanged"))

  /** Whitespace tokens, lowercased, distinct, as the doc's token SET. */
  def tokenSet(textCol: Column): Column =
    array_distinct(split(lower(textCol), " "))

  /** Exact Jaccard similarity of two array columns (int/int division —
    * bit-identical across engines, so thresholds compare identically). */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b)).cast("double")

  /** Exact Jaccard of two SORTED SET arrays via the codegen'd merge-count
    * (|A∪B| = |A|+|B|-|A∩B| — same integers as array_union on sets, so the
    * double compares identically; ~50x cheaper than per-pair hash sets). */
  def jaccardSorted(a: Column, b: Column): Column = {
    val inter = graft.functions.VectorOps.sortedIntersectCount(a, b)
    inter.cast("double") / (size(a) + size(b) - inter).cast("double")
  }

  /** Same over sorted arrays of HASHED set elements (int merge — the
    * fastest verify). Hashing is applied after distinct, so sizes equal the
    * true set sizes as long as no 32-bit collision occurs within one
    * document's set — with per-doc sets of 10^2-10^3 elements the collision
    * odds are ~1e-5 per doc and the oracle gate would catch any drift. */
  def jaccardSortedHashed(a: Column, b: Column): Column = {
    val inter = graft.functions.VectorOps.sortedIntIntersectCount(a, b)
    inter.cast("double") / (size(a) + size(b) - inter).cast("double")
  }

  /** Early-exit `J(a, b) >= t` over sorted hashed sets — decides exactly
    * the same boolean as `jaccardSortedHashed(a, b) >= t` (the bound-abort
    * merge; differential-pinned in PipelineOpsSpec) but a false candidate
    * stops after a handful of mismatches instead of a full merge scan —
    * the dedup verify stages run this over millions of candidate pairs. */
  def jaccardAtLeast(a: Column, b: Column, t: Double): Column =
    graft.functions.VectorOps.sortedIntJaccardAtLeast(a, b, t)

  /** Sorted array of murmur3-hashed elements of an array column — the
    * codegen'd [[graft.functions.HashStringArraySorted]] (the
    * `array_sort(transform(_, hash))` composition runs its lambda
    * interpreted; pinned equal by a differential test). */
  def hashedSet(arr: Column): Column =
    graft.functions.VectorOps.hashSortedArray(arr)

  /** Interpreted HOF formulation of [[hashedSet]] — differential-test oracle. */
  private[graft] def hashedSetHof(arr: Column): Column =
    array_sort(transform(arr, t => hash(t)))

  // ---- MinHash + LSH -------------------------------------------------------

  private val MersennePrime = 2147483647L // 2^31 - 1

  /** Deterministic per-seed affine coefficients for minhash permutations:
    * derived from splitmix64-style mixing of the seed index, reduced to
    * 31-bit so products stay far from Long overflow (ANSI-safe). */
  private def mix(i: Long): Long = {
    var z = i + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def coeffA(i: Int): Long = (mix(2L * i) & 0x7FFFFFFFL) | 1L
  private def coeffB(i: Int): Long = mix(2L * i + 1) & 0x7FFFFFFFL

  /** MinHash signature columns over an exploded token column.
    * `tokHash` must be a 32-bit hash (so a*x+b fits in 63 bits). */
  private def minhashAggs(tokHash: Column, numHashes: Int): Seq[Column] =
    (0 until numHashes).map { i =>
      min(pmod(lit(coeffA(i)) * tokHash.cast("long") + lit(coeffB(i)),
        lit(MersennePrime))).as(s"mh_$i")
    }

  /** Per-doc minhash signature as ONE `array<long>` column `__sig` —
    * computed by the one-pass codegen'd expression
    * ([[graft.functions.MinHashSignature]]); the explode + 128-column hash
    * aggregate it replaces shuffled tokens x docs rows and dominated the
    * minhash stage. Signatures are bit-identical to the aggregate
    * formulation (pinned by a test against [[minhashSignaturesAgg]]).
    *
    * The signature deliberately stays an ARRAY: projecting it into scalar
    * `mh_i` columns invites CollapseProject to inline the signature
    * expression once per column (a measured 128x blowup). Use
    * [[minhashSignatures]] only for inspection/tests. */
  def minhashSignatureArray(
      df: DataFrame, idCol: String, textCol: String, numHashes: Int): DataFrame =
    df.select(col(idCol).as("__id"),
      graft.functions.VectorOps.minhashSignature(tokenSet(col(textCol)), numHashes)
        .as("__sig"))

  /** Inspection form of [[minhashSignatureArray]]: `mh_0..mh_{n-1}` scalar
    * columns (not for hot paths — see the array-form scaladoc). */
  def minhashSignatures(
      df: DataFrame, idCol: String, textCol: String, numHashes: Int): DataFrame = {
    val mhCols = (0 until numHashes).map(i =>
      element_at(col("__sig"), i + 1).as(s"mh_$i"))
    minhashSignatureArray(df, idCol, textCol, numHashes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .select(col("__id") +: mhCols: _*)
  }

  /** The original aggregate formulation of [[minhashSignatures]] — kept as
    * the differential-test oracle for the codegen'd expression. */
  private[graft] def minhashSignaturesAgg(
      df: DataFrame, idCol: String, textCol: String, numHashes: Int): DataFrame = {
    val toks = df
      .select(col(idCol).as("__id"), explode(tokenSet(col(textCol))).as("__tok"))
      .withColumn("__h", hash(col("__tok"))) // murmur3-32, deterministic
    val aggs = minhashAggs(col("__h"), numHashes)
    toks.groupBy("__id").agg(aggs.head, aggs.tail: _*)
  }

  /** Candidate near-dup pairs via LSH banding: docs agreeing on ALL rows of
    * at least one band meet in a bucket. Join is on (band, band_hash) —
    * shuffle-partitioned by bucket, never all-pairs.
    *
    * Each pair is emitted from its FIRST agreeing band only (codegen'd
    * [[graft.functions.FirstEqualIndex]] over the full band-hash arrays
    * carried on both sides), so the output needs no distinct(): a
    * near-identical pair agrees on up to ALL bands and a post-join distinct
    * had to crunch bands x pairs rows (measured 100M rows at sf0.1 for 6.1M
    * pairs). */
  def minhashCandidates(
      sigs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // each bucket row carries only the band-hash PREFIX below its own band
    // (r14): the first-agreeing-band test only ever examines indexes
    // < band (index `band` is equal by the join key), so the full arrays
    // halved the bytes copied per joined row for nothing — on a near-dup-
    // dense corpus the bucket join streams ~8x more raw rows than it
    // emits, so joined-row width is the stage's cost. `firstEqualIndex
    // (prefixes) === -1` ⇔ no earlier band agrees ⇔ the old
    // `firstEqualIndex(full, full) === band`.
    val buckets = sigs
      .select(col("__id"),
        graft.functions.VectorOps.bandHashes(col("__sig"), bands).as("__bands"))
      .select(col("__id"), col("__bands"),
        posexplode(col("__bands")).as(Seq("band", "bh")))
      .select(col("__id"), col("band"), col("bh"),
        slice(col("__bands"), lit(1), col("band")).as("__pfx"))
    val a = buckets.select(col("band"), col("bh"), col("__id").as("a_id"),
      col("__pfx").as("__pa"))
    val b = buckets.select(col("band"), col("bh"), col("__id").as("b_id"),
      col("__pfx").as("__pb"))
    a.join(b, Seq("band", "bh"))
      .where(col("a_id") < col("b_id") &&
        graft.functions.VectorOps.firstEqualIndex(col("__pa"), col("__pb")) === -1)
      .select("a_id", "b_id")
  }

  /** Near-duplicate pairs with EXACT token-set Jaccard >= `threshold`,
    * candidates generated by minhash/LSH (16 bands x 8 rows: recall at
    * j=0.95 is 1-(1-0.95^8)^16 ≈ 1-3e-8 — effectively exact — while
    * halving the candidate fanout of wider bandings on near-dup-dense
    * corpora; false candidates removed by the exact verify). */
  def minhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      numHashes: Int = 128,
      bands: Int = 16): DataFrame = {
    // persisted: the bucket self-join consumes the signature frame from two
    // plan branches, which would otherwise recompute the signature pipeline
    // once per side (storage memory is LRU-evictable, so the persist is a
    // hint, not a leak at scale)
    val sigs = minhashSignatureArray(df, idCol, textCol, numHashes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cands = minhashCandidates(sigs, numHashes, bands)
    val toks = df.select(col(idCol).as("__tid"),
      hashedSet(tokenSet(col(textCol))).as("__toks"))
    verifyPairs(cands, toks,
      jaccardAtLeast(col("__ta"), col("__tb"), threshold),
      sizeRatio = Some(threshold))
  }

  /** Cross-corpus near-duplicate pairs — DECONTAMINATION: find `probe`
    * rows (an eval/benchmark set) whose token-set Jaccard with some
    * `corpus` row (the training set) reaches `threshold`. Same LSH banding
    * as [[minhashPairs]], but the bucket join is corpus × probe — work
    * scales with the shared buckets, never corpus × corpus. Output columns
    * `a_id` (corpus side) and `b_id` (probe side); ids may collide across
    * sides — they are different id spaces. */
  def minhashCrossPairs(
      corpus: DataFrame,
      probe: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      numHashes: Int = 128,
      bands: Int = 16): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val spark = corpus.sparkSession
    val n = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    // persisted per side: posexplode adds a `size(bands) > 0` filter that
    // would otherwise inline (and re-evaluate) the whole signature pipeline
    // into the scan — the CollapseProject trap noted on minhashPairs
    def buckets(df: DataFrame) = {
      val sigs = minhashSignatureArray(df, idCol, textCol, numHashes)
        .select(col("__id"),
          graft.functions.VectorOps.bandHashes(col("__sig"), bands).as("__bands"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // band-hash PREFIX only (the minhashCandidates r14 note): the
      // first-agreeing-band test never reads index `band` or later
      (sigs, sigs.select(col("__id"), col("__bands"),
        posexplode(col("__bands")).as(Seq("band", "bh")))
        .select(col("__id"), col("band"), col("bh"),
          slice(col("__bands"), lit(1), col("band")).as("__pfx")))
    }
    val (sigsA, bucketsA) = buckets(corpus)
    val (sigsB, bucketsB) = buckets(probe)
    val a = bucketsA.select(col("band"), col("bh"),
      col("__id").as("a_id"), col("__pfx").as("__pa"))
    val b = bucketsB.select(col("band"), col("bh"),
      col("__id").as("b_id"), col("__pfx").as("__pb"))
    // first-agreeing-band emission: no distinct over bands × pairs.
    // localCheckpoint materializes the (tiny: two ids/row) candidate set
    // eagerly and CUTS its lineage, so both per-side signature caches can be
    // released here instead of leaking until LRU eviction (r3 advice).
    val cands = a.join(b, Seq("band", "bh"))
      .where(graft.functions.VectorOps
        .firstEqualIndex(col("__pa"), col("__pb")) === -1)
      .select("a_id", "b_id")
      .localCheckpoint()
    sigsA.unpersist(blocking = false)
    sigsB.unpersist(blocking = false)
    val toksC = corpus.select(col(idCol).as("a_id"),
      hashedSet(tokenSet(col(textCol))).as("__ta"))
    val toksP = probe.select(col(idCol).as("b_id"),
      hashedSet(tokenSet(col(textCol))).as("__tb"))
    // exact verify with per-side token sets; the size necessary-condition
    // (t*|B| <= |A| <= |B|/t) folds into the same filter — arrays are
    // already present, size() on them is free
    cands.repartition(n, col("a_id"))
      .join(toksC, Seq("a_id"))
      .join(toksP, Seq("b_id"))
      .where(size(col("__ta")) >= size(col("__tb")) * threshold &&
        size(col("__tb")) >= size(col("__ta")) * threshold &&
        jaccardAtLeast(col("__ta"), col("__tb"), threshold))
      .select("a_id", "b_id")
  }

  /** Exact verification of candidate pairs: join token/shingle sets back on
    * both ids and keep pairs passing `cond`. The candidate frame is
    * re-spread across the full shuffle parallelism first — its byte size is
    * tiny (two longs/row) so AQE would otherwise coalesce it into one
    * partition, serializing the CPU-heavy set-intersection verify.
    *
    * `sizeRatio`: a necessary condition for J(A,B) >= t is
    * t*|B| <= |A| <= |B|/t. The size filter joins only the (id, size)
    * pairs — auto-broadcast when small — and kills most false candidates
    * BEFORE the full arrays are shuffled or merged.
    *
    * `counted`: `(rows, elements)` of `toksIn` when it is a projection of
    * a frame the caller has already persisted and counted (ngram: its gram
    * sets and the sketch job's counts). Such a frame is neither persisted
    * again — that would cache a SECOND copy of the arrays next to the
    * parent's — nor counted by the stats job. */
  private[operators] def verifyPairs(
      cands: DataFrame, toksIn: DataFrame, cond: Column,
      sizeRatio: Option[Double] = None,
      counted: Option[(Long, Long)] = None): DataFrame = {
    val spark = cands.sparkSession
    val n = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    // persisted: consumed by the stats job + size-filter + both verify-join
    // sides — five plan branches that would each re-tokenize the corpus
    val toks =
      if (counted.isDefined) toksIn
      else toksIn.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // One TINY stats job over the column-pruned (id, |set|) projection:
    // drives both the broadcast decision below and nothing else (measured
    // r15: 0.18-0.30 s warm at sf0.1 — the job floor — and it doubles as
    // the cache-materializing action whose tokenization pass the verify
    // join would otherwise pay inline; an unmeasured decision risks the
    // multi-GB broadcast the byte budget exists to prevent). Estimated
    // broadcast payload = 4 bytes/int element + per-row array overhead.
    val (nDocs, nElems) = counted.getOrElse {
      val stats = toks.agg(
        count(lit(1)).as("__n"), sum(size(col("__toks"))).as("__elems")).first()
      (stats.getLong(0), Option(stats.get(1)).map(_.toString.toLong).getOrElse(0L))
    }
    val estBytes = nElems * 4L + nDocs * 48L
    val slimmed = sizeRatio match {
      case Some(t) =>
        // broadcast the (id, size) frame: one small row per document —
        // without the hint Spark's stat estimate forces two sort-merge
        // joins that SORT the multi-million-row pair frame twice
        val sizes = broadcast(
          toks.select(col("__tid"), size(col("__toks")).cast("double").as("__sz")))
        cands
          .join(sizes.select(col("__tid").as("a_id"), col("__sz").as("__sa")), Seq("a_id"))
          .join(sizes.select(col("__tid").as("b_id"), col("__sz").as("__sb")), Seq("b_id"))
          .where(col("__sa") >= col("__sb") * t && col("__sb") >= col("__sa") * t)
          .select("a_id", "b_id")
      case None => cands
    }
    // Broadcasting the per-doc set arrays avoids re-shuffling the pair
    // frame by b_id for the second join — but only below a byte budget
    // (estimated, not guessed from row count: 200k docs x 1k tokens would
    // be ~800 MB and OOM the driver). Past the budget: shuffle joins.
    val small = estBytes <= graft.GraftConf.verifyBroadcastMaxBytes(spark)
    val t2 = if (small) broadcast(toks) else toks
    slimmed.repartition(n, col("a_id"))
      .join(t2.select(col("__tid").as("a_id"), col("__toks").as("__ta")), Seq("a_id"))
      .join(t2.select(col("__tid").as("b_id"), col("__toks").as("__tb")), Seq("b_id"))
      .where(cond)
      .select("a_id", "b_id")
  }

  // ---- SimHash -------------------------------------------------------------

  /** Unweighted 64-bit SimHash over the distinct token set. Identical token
    * sets always produce identical simhashes, so bucketing on the simhash
    * has guaranteed recall for set-equality dedup. Computed per document in
    * one codegen'd pass ([[graft.functions.SimHash64]]) — no explode, no
    * 64-column aggregate, no shuffle (pinned bit-identical to the aggregate
    * formulation by a differential test). */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("__id"),
      graft.functions.VectorOps.simhash64(tokenSet(col(textCol))).as("simhash"))

  /** The original explode + 64-sum aggregate formulation of [[simhash]] —
    * kept as the differential-test oracle for the codegen'd expression. */
  private[graft] def simhashAgg(
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df
      .select(col(idCol).as("__id"), explode(tokenSet(col(textCol))).as("__tok"))
      .withColumn("__h", xxhash64(col("__tok")))
    val bitSums = (0 until 64).map { j =>
      sum(when(shiftright(col("__h"), j).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"s_$j")
    }
    val agg = toks.groupBy("__id").agg(bitSums.head, bitSums.tail: _*)
    // assemble bits; bit 63 as shiftleft(1L,63) = Long.MinValue is fine —
    // the sum of distinct bit values always stays within Long range
    val bitVals = (0 until 64).map { j =>
      when(col(s"s_$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }
    agg.select(col("__id"), bitVals.reduce(_ + _).as("simhash"))
  }

  /** Exact-duplicate (identical token set) pairs via simhash: identical
    * sets produce IDENTICAL 64-bit simhashes, so candidates come from one
    * equi-join on the full simhash — recall 1 by construction, one row per
    * pair, no banding/distinct needed (banding exists for hamming > 0; see
    * [[simhashNearPairs]]). Verification = exact sorted-token-set equality. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sh = simhash(df, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = sh.select(col("simhash"), col("__id").as("a_id"))
    val b = sh.select(col("simhash"), col("__id").as("b_id"))
    val cands = a.join(b, Seq("simhash"))
      .where(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
    // set equality == equal sizes + full intersection, via the codegen'd
    // int merge (array<string> equality comparison was the bottleneck at
    // 10^7 candidates); size filter at ratio 1.0 kills unequal sizes first
    val toks = df.select(col(idCol).as("__tid"),
      hashedSet(tokenSet(col(textCol))).as("__toks"))
    verifyPairs(cands, toks,
      graft.functions.VectorOps.sortedIntIntersectCount(col("__ta"), col("__tb"))
        === size(col("__ta")),
      sizeRatio = Some(1.0))
  }

  /** Near-duplicate pairs by simhash hamming distance <= `maxHamming`:
    * (maxHamming+1) bands over the 64-bit simhash — by pigeonhole, any pair
    * within the distance agrees exactly on at least one band, so recall is
    * 1 for the hamming criterion. Verification = bit_count(xor) (exact,
    * codegen'd built-ins). Each pair is emitted from its first agreeing
    * band only — no distinct(). */
  def simhashNearPairs(
      df: DataFrame, idCol: String, textCol: String, maxHamming: Int = 3): DataFrame = {
    val sh = simhash(df, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    hamming64NearPairs(sh.select(col("__id"), col("simhash").as("__h")),
      maxHamming).select("a_id", "b_id")
  }

  /** Shared LSH-band candidate generation + exact verify for ANY 64-bit
    * locality hash (`__id`, `__h`): split the hash into `maxHamming + 1`
    * bands — a pair within the Hamming budget must agree on at least one
    * full band (pigeonhole), so recall is exactly 1 — meet candidates in
    * per-band buckets, emit each pair ONCE from its first equal band (no
    * distinct), verify with `bit_count(xor)`. One row per pair:
    * `a_id | b_id | hamming`. Backs [[simhashNearPairs]] (text) and
    * [[Multimodal.imageNearDupPairs]] (perceptual hash). */
  private[graft] def hamming64NearPairs(
      hashed: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 16, "maxHamming must be in [0, 16)")
    val nBands = maxHamming + 1
    val width = 64 / nBands
    val bandCols = (0 until nBands).map { b =>
      val hi = if (b == nBands - 1) 64 else (b + 1) * width
      val bits = hi - b * width
      val mask = if (bits >= 64) -1L else (1L << bits) - 1
      shiftrightunsigned(col("__h"), b * width).bitwiseAND(lit(mask))
    }
    val withBands = hashed.where(col("__h").isNotNull)
      .select(col("__id"), col("__h"), array(bandCols: _*).as("__bands"))
    // bucket rows carry only the band-value PREFIX below their own band
    // (r15 — the minhashCandidates r14 trick, guide §2.3): the
    // first-agreeing-band test never reads index `band` (equal by the
    // join key `bh`) or later, so `firstEqualIndex(pfx, pfx) === -1` ⇔
    // no earlier band agrees ⇔ the old
    // `firstEqualIndex(full, full) === band` (band 0 → empty slices → -1)
    val buckets = withBands.select(col("__id"), col("__h"), col("__bands"),
      posexplode(col("__bands")).as(Seq("band", "bh")))
      .select(col("__id"), col("__h"), col("band"), col("bh"),
        slice(col("__bands"), lit(1), col("band")).as("__pfx"))
    val a = buckets.select(col("band"), col("bh"), col("__id").as("a_id"),
      col("__h").as("__sa"), col("__pfx").as("__pa"))
    val b = buckets.select(col("band"), col("bh"), col("__id").as("b_id"),
      col("__h").as("__sb"), col("__pfx").as("__pb"))
    a.join(b, Seq("band", "bh"))
      .where(col("a_id") < col("b_id") &&
        graft.functions.VectorOps.firstEqualIndex(col("__pa"), col("__pb")) === -1)
      .select(col("a_id"), col("b_id"),
        bit_count(col("__sa").bitwiseXOR(col("__sb"))).cast("int")
          .as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  // ---- character n-gram Jaccard with prefix filtering ----------------------

  /** Distinct character n-gram set of a text column (codegen'd higher-order
    * functions; no UDF). */
  def ngramSet(textCol: Column, n: Int): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(length(textCol) - (n - 1), lit(1))),
      i => textCol.substr(i, lit(n))))

  /** Pairs with exact n-gram Jaccard >= threshold, by PREFIX FILTERING
    * (Chaudhuri et al.): under any global total order of grams that every
    * doc shares, a pair with J >= t shares a gram among each doc's first
    * L = |G| - ceil(t*|G|) + 1 grams, so indexing only those prefixes keeps
    * recall exactly 1. The order only sets how many candidates a prefix
    * makes, and rarest-first makes the fewest.
    *
    * The order here is (count-min estimate, gram). One job over the
    * persisted gram sets builds a fixed-size count-min sketch of the grams
    * partition by partition, merges the partial sketches without a gram
    * shuffle, and counts docs and grams on the way. The sketch is broadcast
    * and each doc sorts its own gram array by it. An estimate is a fixed
    * function of the gram, so every doc agrees on the order and the filter
    * stays exact; an estimate never under-counts, so frequent grams still
    * sort late. Only the prefix self-join moves grams.
    *
    * Each candidate pair is emitted once, from its first shared prefix
    * gram: a joined row is kept only when the two prefixes share no gram
    * before it, so no distinct runs. The length filter
    * (t*|B| <= |A| <= |B|/t) runs inside the join, and the exact verify
    * reads the same persisted sets.
    *
    * Shingling runs as ONE codegen'd expression producing the sorted
    * distinct hashed gram set ([[graft.functions.HashedNgramSet]]), so
    * every join carries int grams.
    *
    * SCALE NOTE on `n`: prefix filtering is only subquadratic while the
    * n-gram universe outgrows the corpus. Char 3-grams over a ~40-char
    * alphabet give ~6·10^4 distinct grams — past ~10^4 docs even a doc's
    * RAREST grams hit hundreds of other docs and the candidate join goes
    * quadratic (measured: 150k docs at n=3 explodes, n=5 — a ~7·10^7 gram
    * universe — stays candidate-bound). Grow `n` with the corpus, or
    * switch to [[minhashPairs]] whose banding cost is corpus-independent. */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      n: Int = 3): DataFrame = {
    val grams = df.select(col(idCol).as("__id"),
      graft.functions.VectorOps.hashedNgramSet(col(textCol), n).as("__g"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the call's one job; it also fills the cache that the prefix join and
    // the verify read
    val (sketch, docs) = gramSketch(grams)
    if (n <= 3 && docs > 20000L)
      logWarning(s"ngramJaccardPairs over $docs docs with n=$n: the " +
        s"char $n-gram universe saturates at this corpus size and the " +
        "candidate join can go quadratic — raise n to 5+, or use " +
        "minhashPairs (corpus-independent banding cost)")
    val prefix = sketchPrefix(df.sparkSession.sparkContext.broadcast(sketch), threshold)
    // each prefix row carries the prefix before its own gram: the pair's
    // first shared gram is the one row whose two slices do not overlap.
    // Outer: Spark infers a `size(__p) > 0` filter for an inner generator
    // and pushes it below the projection, which runs the UDF twice more;
    // the null-gram row of an empty prefix joins nothing.
    val inverted = grams
      .select(col("__id"), size(col("__g")).as("__n"), prefix(col("__g")).as("__p"))
      .select(col("__id"), col("__n"), col("__p"),
        posexplode_outer(col("__p")).as(Seq("pos", "gram")))
      .select(col("gram"), col("__id"), col("__n"),
        slice(col("__p"), lit(1), col("pos")).as("__before"))
    val a = inverted.select(col("gram"), col("__id").as("a_id"),
      col("__n").as("__sa"), col("__before").as("__pa"))
    val b = inverted.select(col("gram"), col("__id").as("b_id"),
      col("__n").as("__sb"), col("__before").as("__pb"))
    // coalesce: a null-intolerant filter here would make Spark infer
    // `isnotnull(__pa)` and push it below the projection as a second slice
    // of every prefix row; joined rows always carry both slices
    val cands = a.join(b, Seq("gram"))
      .where(col("a_id") < col("b_id") &&
        col("__sa") >= col("__sb") * threshold &&
        col("__sb") >= col("__sa") * threshold &&
        coalesce(!arrays_overlap(col("__pa"), col("__pb")), lit(false)))
      .select("a_id", "b_id")
    verifyPairs(cands,
      grams.select(col("__id").as("__tid"), col("__g").as("__toks")),
      jaccardAtLeast(col("__ta"), col("__tb"), threshold),
      counted = Some((docs, sketch.totalCount())))
  }

  /** Shape of the n-gram order's count-min sketch: 4 rows of 2^16 longs
    * (2 MiB), whatever the corpus size, so the task results the driver
    * merges and the broadcast stay bounded. */
  private def newGramSketch(): CountMinSketch =
    CountMinSketch.create(4, 1 << 16, 42)

  /** One pass over the persisted `__g` gram sets: their count-min sketch
    * and the number of rows. Each partition builds its own sketch, and the
    * driver merges them (`treeReduce` adds a merge level past a few dozen
    * partitions); no gram is shuffled. */
  private def gramSketch(grams: DataFrame): (CountMinSketch, Long) = {
    val rows = grams.select(col("__g")).queryExecution.toRdd
    // an empty local frame has no partitions, and treeReduce needs one
    if (rows.getNumPartitions == 0) (newGramSketch(), 0L)
    else rows.mapPartitions { it =>
      val sketch = newGramSketch()
      var docs = 0L
      it.foreach { r =>
        docs += 1
        if (!r.isNullAt(0)) {
          val g = r.getArray(0)
          var i = 0
          while (i < g.numElements()) { sketch.addLong(g.getInt(i)); i += 1 }
        }
      }
      Iterator((sketch, docs))
    }.treeReduce { case ((a, m), (b, k)) => (a.mergeInPlace(b), m + k) }
  }

  /** A doc's prefix-filter prefix: its first `|G| - ceil(t*|G|) + 1` grams
    * (at least one) in the order (sketch estimate, gram). Both halves of
    * the key pack into one long, the estimate capped at 2^31 - 1 and the
    * gram offset by 2^31 so that signed gram order is unsigned order. */
  private def sketchPrefix(
      sketch: Broadcast[CountMinSketch], threshold: Double): Column => Column = {
    val f = udf { (g: Seq[Int]) =>
      if (g == null) null
      else {
        val cms = sketch.value
        val keys = g.iterator.map { x =>
          val est = math.min(cms.estimateCount(x.toLong), Int.MaxValue.toLong)
          (est << 32) | ((x ^ Int.MinValue) & 0xFFFFFFFFL)
        }.toArray
        java.util.Arrays.sort(keys)
        val len = math.max((g.size - math.ceil(threshold * g.size).toLong + 1).toInt, 1)
        keys.iterator.take(len).map(k => k.toInt ^ Int.MinValue).toArray
      }
    }
    c => f(c)
  }

  // ---- Edit-distance (fuzzy) self-join ---------------------------------------

  /** Pairs within Levenshtein edit distance `maxDist` — the fuzzy string
    * self-join (record linkage, near-identical titles/URLs/names), exact
    * recall by the q-gram pigeonhole: `d` edits destroy at most `q·d` of
    * a string's `L−q+1` overlapping q-grams, so whenever the LONGER
    * string of a qualifying pair has `L >= q·(d+1)` one of its grams
    * survives intact as a substring of the other and the pair collides
    * in the gram inverted index. Pairs where BOTH strings are shorter
    * than `q·(d+1)` can share no gram yet still qualify — those route
    * through a length-band key join instead (each right row emits its
    * `2d+1` admissible lengths; exact within the band). Candidates then
    * verify with Spark's threshold-bounded `levenshtein(a, b, d)`
    * (codegen'd, early-exit at `d+1`), so false candidates cost a
    * bounded scan, not a full DP matrix.
    *
    * Output: `a_id | b_id | dist` with `a_id < b_id`, `dist <= maxDist`
    * (0 = exact duplicates included — same-corpus pair-frame contract,
    * composes with [[keepFirst]]/[[keepCanonical]]/[[keepBest]]). Null
    * texts never match.
    *
    * SCALE NOTE: the inverted index holds only each string's `q·d+1`
    * globally-RAREST grams (frequency-ordered positional prefix filter,
    * exact by the prefix-filter theorem), so frequent shared grams sit
    * outside the index unless a string has nothing rarer — candidate
    * volume is bounded by rare-gram bucket products, not by the hottest
    * gram. Residual saturation modes, both data-visible: (a) tiny `q`
    * on a large corpus shrinks the gram universe until even rare grams
    * are hot (raise `q` with corpus size; recall holds whenever
    * `q·(d+1)` stays under typical string length); (b) a corpus whose
    * strings are near-identical ("Customer#0000…") has only hot grams,
    * so prefixes are hot too — raise `q` past the boilerplate or strip
    * it first. The short-string band join is all-pairs per length band
    * by construction: honest for the tail of genuinely short strings,
    * not for a corpus OF short strings (use [[ngramJaccardPairs]]
    * grams-of-words there). */
  def editDistancePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDist: Int,
      q: Int = 3): DataFrame = {
    require(maxDist >= 1,
      "maxDist must be >= 1 — for exact duplicates use exact/exactByHash")
    require(q >= 1, "q must be >= 1")
    val minLong = q * (maxDist + 1)
    // localCheckpoint, not persist: four consumers (gram index, short
    // band, two verify joins) share one scan, and the blocks are
    // ContextCleaner-reclaimed when the returned frame goes unreachable —
    // a lazily-returned result has no unpersist hook (r9 advice; the
    // minhashCrossPairs discipline)
    val base = df.select(col(idCol).as("__id"), col(textCol).as("__t"))
      .where(col("__t").isNotNull)
      .withColumn("__len", length(col("__t")))
      .localCheckpoint()
    // gram inverted index over every string long enough to HAVE a gram;
    // hashed int grams (collisions only add candidates, never lose one —
    // the whole argument runs on the hashed-value alphabet)
    val grams = base.where(col("__len") >= q)
      .select(col("__id"), col("__len"),
        explode(graft.functions.VectorOps.hashedNgramSet(col("__t"), q))
          .as("gram"))
    // ED-Join-style POSITIONAL PREFIX FILTER (Xiao, Wang & Lin 2008;
    // Chaudhuri, Ganti & Kaushik 2006): under any GLOBAL gram order, two
    // strings within distance d (each side loses <= q·d distinct gram
    // values per the same pigeonhole) must share a gram among each
    // side's first q·d+1 grams in that order. Ordering by ascending
    // document frequency puts each string's RAREST grams in its prefix,
    // so the inverted index holds q·d+1 grams per string instead of
    // ~len, and bucket sizes collapse exactly where the full index
    // saturates (frequent grams sit outside prefixes unless a string
    // has nothing rarer). Exact recall; the randomized all-pairs DP
    // differential pins it.
    val prefLen = q * maxDist + 1
    val gramDf = grams.groupBy("gram").agg(count(lit(1)).as("__df"))
    val pref = grams.join(gramDf, Seq("gram"))
      .groupBy("__id", "__len")
      .agg(collect_list(struct(col("__df"), col("gram"))).as("__g"))
      .select(col("__id"), col("__len"),
        explode(slice(array_sort(col("__g")), 1, prefLen)).as("__p"))
      .select(col("__id"), col("__len"), col("__p.gram").as("gram"))
    val ga = pref.select(col("gram"), col("__id").as("a_id"),
      col("__len").as("__la"))
    val gb = pref.select(col("gram"), col("__id").as("b_id"),
      col("__len").as("__lb"))
    // complete for every pair whose longer member is >= q·(d+1); the
    // length filter runs inside the join, before distinct
    val candsGram = ga.join(gb, Seq("gram"))
      .where(col("a_id") < col("b_id") &&
        abs(col("__la") - col("__lb")) <= maxDist &&
        greatest(col("__la"), col("__lb")) >= minLong)
      .select("a_id", "b_id").distinct()
    // both-short remainder: band join on admissible length keys
    val shorts = base.where(col("__len") < minLong)
    val sa = shorts.select(col("__id").as("a_id"), col("__len").as("__k"))
    val sb = shorts.select(col("__id").as("b_id"),
      explode(sequence(col("__len") - maxDist, col("__len") + maxDist))
        .as("__k"))
    val candsShort = sa.join(sb, Seq("__k"))
      .where(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    val cands = candsGram.unionByName(candsShort)
    val withDist = cands
      .join(base.select(col("__id").as("a_id"), col("__t").as("__ta")), Seq("a_id"))
      .join(base.select(col("__id").as("b_id"), col("__t").as("__tb")), Seq("b_id"))
      .withColumn("dist", levenshtein(col("__ta"), col("__tb"), maxDist))
    withDist.where(col("dist") >= 0 && col("dist") <= maxDist)
      .select(col("a_id"), col("b_id"), col("dist"))
  }

  // ---- Embedding near-dup ----------------------------------------------------

  /** Embedding-cosine near-duplicate pairs — the embedding member of the
    * dedup family. Delegates to the bucketed [[Similarity]] pipelines:
    * `"ivf"` (default) meets candidates inside shared quantizer cells and
    * exact-reranks only those — the 100 TB path; `"brute"` is the exact
    * all-pairs baseline for small corpora and oracle checks. */
  def embeddingPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      method: String = "ivf"): DataFrame = method match {
    case "ivf"   => Similarity.ivfCosinePairs(df, idCol, vecCol, threshold)
    case "brute" => Similarity.cosinePairs(df, idCol, vecCol, threshold)
    case m => throw new IllegalArgumentException(
      s"unknown embedding dedup method '$m' (ivf|brute)")
  }

  /** SemDeDup cluster-scoped semantic dedup (Abbas et al. 2023) — keep
    * the farthest-from-centroid member of every over-threshold pair
    * inside a quantizer cell. Delegates to
    * [[Similarity.semDeDup]]; see there for the keep policy and the
    * O(Σ cell²) scale bound. */
  def semDeDup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nCells: Int = 16,
      trainIters: Int = 0,
      quantizer: Option[graft.functions.CentroidSet] = None): DataFrame =
    Similarity.semDeDup(df, idCol, vecCol, threshold, nCells, trainIters,
      quantizer)

  /** Greedy survivor selection over a near-dup pair frame: keep a row iff
    * it has no near-duplicate with a smaller id. Pairs must carry
    * `a_id < b_id` — true of every SAME-CORPUS pair generator in this file
    * (minhashPairs, simhash, ngramJaccardPairs, embeddingPairs). It is NOT
    * true of [[minhashCrossPairs]], whose a_id/b_id come from two different
    * id spaces with no ordering invariant — feeding its output here would
    * silently drop the wrong rows (decontamination wants a plain
    * `left_anti` on the probe side instead, as q_decontaminate does).
    * Survivors are exactly the rows never appearing as `b_id` — one
    * left-anti join, deterministic on any partitioning. Greedy-by-id, not
    * connected components: for a chain a~b, b~c (a<b<c) both b and c drop
    * even if a!~c — the standard fuzzy-dedup keep rule, cheap at any
    * scale. */
  def keepFirst(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    df.join(pairs.select(col("b_id").as(idCol)).distinct(),
      Seq(idCol), "left_anti")

  /** Incremental near-dup ADMISSION against a persistent band store — the
    * serving/streaming form of [[minhashPairs]] + [[keepFirst]]: a batch
    * document is admitted iff it has NO verified near-duplicate (token-set
    * Jaccard >= `threshold`) among (a) smaller-id documents of the same
    * batch or (b) ANY document of a previous batch — kept or dropped, the
    * same register-all rule as [[keepFirst]] — so admitting id-ordered
    * batches one at a time lands on exactly the one-shot
    * `keepFirst(df, id, minhashPairs(df, ...))` survivor set
    * (differential-pinned in StreamOpsSpec; q_neardup_stream oracles it).
    *
    * The store is two segmented [[graft.store.SnapshotTable]]s under
    * `storeDir`: `bands/` (band, bh, id — the LSH buckets) and `docs/`
    * (id, toks — the hashed token sets verification needs), each appended
    * via `appendReplacing` keyed on `batch_id` — so a REPLAYED batch id
    * atomically replaces its own earlier registration (exactly-once under
    * foreachBatch redelivery) and the probe excludes the batch's own
    * `batch_id` to stay idempotent mid-replay. Candidates come from the
    * same (band, bh) bucket join as every LSH path in this file — work
    * scales with shared buckets, never batch × store. The dropped-id set
    * (≤ one batch) is pinned EAGERLY (localCheckpoint) before the batch's
    * own rows append, so the lazily-consumed survivor frame can never see
    * the batch in the store.
    *
    * Scale notes: each batch shuffles the band log once for the bucket
    * join (measured flat across batches at ×30 — BASELINE.md round 8);
    * the segment count is bounded by the table's fold policy, and
    * `SnapshotTable.compact()` on both tables is the maintenance hook.
    * For corpus-scale stores put the band side behind an `exploded_bloom`
    * [[graft.Index]] so a batch probes only candidate files. Single
    * writer assumed (one ingest owns a store); ids must be unique across
    * the ingest and batch ids must be unique per batch (a streaming
    * query's epoch id is exactly that). */
  def nearDupIncrementalBatch(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      storeDir: String,
      threshold: Double,
      batchId: Long,
      numHashes: Int = 128,
      bands: Int = 16): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val spark = batch.sparkSession
    val bandsTbl = new graft.store.SnapshotTable(spark, s"$storeDir/bands")
    val docsTbl = new graft.store.SnapshotTable(spark, s"$storeDir/docs")
    val bid = batchId.toString
    val sigs = minhashSignatureArray(batch, idCol, textCol, numHashes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val batchToks = batch.select(col(idCol).as("__tid"),
      hashedSet(tokenSet(col(textCol))).as("__toks"))
    // (a) within the batch: the standard verified pairs, a_id < b_id
    val inBatch = verifyPairs(minhashCandidates(sigs, numHashes, bands),
      batchToks, jaccardAtLeast(col("__ta"), col("__tb"), threshold),
      sizeRatio = Some(threshold))
      .select(col("b_id").as("__drop"))
    // (b) against the store: bucket-collide, then verify exactly. A
    // replayed batch's OWN earlier registration is excluded, else every
    // redelivered doc would collide with itself and the replay emit nothing
    val batchBuckets = sigs
      .select(col("__id"),
        graft.functions.VectorOps.bandHashes(col("__sig"), bands).as("__bands"))
      .select(col("__id"), posexplode(col("__bands")).as(Seq("band", "bh")))
    val crossDrop = bandsTbl.read() match {
      case None =>
        batchBuckets.where(lit(false)).select(col("__id").as("__drop"))
      case Some(storeBands) =>
        val storeToks = docsTbl.read().get.where(col("batch_id") =!= bid)
        batchBuckets
          .join(storeBands.where(col("batch_id") =!= bid)
            .select(col("band"), col("bh"), col("id").as("__sid")),
            Seq("band", "bh"))
          .select(col("__id"), col("__sid")).distinct()
          .join(batchToks.withColumnRenamed("__tid", "__id"), Seq("__id"))
          .join(storeToks.select(col("id").as("__sid"),
            col("toks").as("__stoks")), Seq("__sid"))
          .where(jaccardAtLeast(col("__toks"), col("__stoks"), threshold))
          .select(col("__id").as("__drop"))
    }
    // pin the (≤ batch-size) drop set BEFORE the batch reaches the store
    val dropped = inBatch.union(crossDrop).distinct().localCheckpoint()
    // register the WHOLE batch — kept and dropped — replacing any earlier
    // registration of the same batch id; then emit survivors
    bandsTbl.appendReplacing(
      sigs.select(col("__id").as("id"),
          graft.functions.VectorOps.bandHashes(col("__sig"), bands)
            .as("__bands"))
        .select(col("id"), posexplode(col("__bands")).as(Seq("band", "bh")))
        .select(col("band"), col("bh"), col("id"), lit(bid).as("batch_id")),
      "batch_id", Seq(bid))
    docsTbl.appendReplacing(
      batchToks.select(col("__tid").as("id"), col("__toks").as("toks"),
        lit(bid).as("batch_id")),
      "batch_id", Seq(bid))
    sigs.unpersist()
    batch.join(dropped.withColumnRenamed("__drop", idCol),
      Seq(idCol), "left_anti")
  }

  /** Sliding-window xxhash64 array over the lowercased space-split tokens
    * of `textCol`: one 64-bit hash per `windowTokens`-token run, built
    * per-row inside codegen (the whole window family's shared primitive).
    * Guard: `sequence(0, n)` DESCENDS when n < 0 — short docs must map to
    * an EMPTY window array, not a phantom window. `distinctWithinDoc`
    * dedups hashes within the document, making a plain count over the
    * exploded frame a distinct-document count. */
  def windowHashes(
      textCol: Column, windowTokens: Int, distinctWithinDoc: Boolean): Column = {
    val toks = split(lower(textCol), " ")
    val raw = transform(sequence(lit(0), size(toks) - windowTokens),
      i => xxhash64(concat_ws("\u0001", slice(toks, i + 1, lit(windowTokens)))))
    when(size(toks) >= windowTokens,
      if (distinctWithinDoc) array_distinct(raw) else raw)
      .otherwise(array().cast("array<long>"))
  }

  /** SQL-string twin of [[windowHashes]] (distinct-within-doc form) for
    * EXPLODED INDEX definitions: an index built over this expression
    * holds, per file, the distinct window hashes its documents contain —
    * so decontamination against a NEW eval release probes the index and
    * reads only lake files that can hold a colliding window (the
    * q_incremental_dedup pattern applied to verbatim-overlap checks).
    * Uses `char(1)` for the join separator so the persisted metadata
    * string carries no control characters; `char(1)` equals the U+0001
    * literal the Column form concatenates with, and the two produce
    * bit-identical xxhash64 values (spec-asserted). */
  def windowHashSqlExpr(textCol: String, windowTokens: Int): String = {
    require(windowTokens > 0, "windowTokens must be positive")
    val toks = s"split(lower($textCol), ' ')"
    s"CASE WHEN size($toks) >= $windowTokens THEN " +
      s"array_distinct(transform(sequence(0, size($toks) - $windowTokens), " +
      s"i -> xxhash64(concat_ws(char(1), slice($toks, i + 1, $windowTokens))))) " +
      "ELSE CAST(array() AS ARRAY<BIGINT>) END"
  }

  /** Exact-substring duplication: pairs of documents sharing at least
    * `minShared` verbatim runs of `windowTokens` consecutive tokens — the
    * signal behind suffix-array substring dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"),
    * re-expressed Spark-first as sliding-window shingle hashing: token
    * windows are 64-bit-hashed PER ROW (one codegen'd HOF pass, distinct
    * within doc), then duplicated windows meet in one hash shuffle —
    * never an all-pairs comparison, and unlike Jaccard near-dup it
    * catches a long quote embedded in otherwise-unrelated documents.
    *
    * 100 TB shape: the exploded frame is one row per token position
    * (corpus token count, same order as tokenization itself), shuffled
    * ONCE on the window hash; the self-join's both sides read that one
    * exchange (ReusedExchange — plan-asserted), so duplicated windows
    * meet in codegen'd sort-merge land with UnsafeRow spilling. (A
    * bucket-aggregate formulation — collect_list of doc ids per window,
    * pairs from a generator — was measured 8–20 % SLOWER in a same-JVM
    * A/B at 8M windows: collecting mostly-singleton buckets forces a
    * non-codegen ObjectHashAggregate whose per-window buffers are the
    * wrong trade against two codegen'd sorts; kept as a written finding,
    * not code.) A boilerplate window shared by k docs inherently means
    * k·(k-1)/2 output pairs — `maxDocsPerWindow` (0 = unlimited) drops
    * such pathological windows first via one extra count pass, for
    * corpora whose boilerplate runs exceed `windowTokens`. 64-bit
    * hashing admits ~2^-65·n² false-collision probability — negligible
    * below ~10^9 windows; the oracle compares raw window strings and
    * agrees exactly at any tested scale. Docs shorter than
    * `windowTokens` contribute no windows. */
  def sharedWindowPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int = 20,
      minShared: Long = 1L,
      maxDocsPerWindow: Int = 0): DataFrame = {
    require(windowTokens > 0, "windowTokens must be positive")
    val all = df.select(col(idCol).as("__id"),
      explode(windowHashes(col(textCol), windowTokens,
        distinctWithinDoc = true)).as("__w"))
    val w = if (maxDocsPerWindow > 0) {
      val hot = all.groupBy("__w").agg(count(lit(1)).as("__k"))
        .where(col("__k") > maxDocsPerWindow).select("__w")
      all.join(hot, Seq("__w"), "left_anti")
    } else all
    w.as("a").join(w.as("b"),
        col("a.__w") === col("b.__w") && col("a.__id") < col("b.__id"))
      .groupBy(col("a.__id").as("a_id"), col("b.__id").as("b_id"))
      .agg(count(lit(1)).as("shared_windows"))
      .where(col("shared_windows") >= minShared)
  }

  /** Cross-corpus EXACT-substring decontamination pairs: `(a_id, b_id,
    * shared_windows)` for every train×eval document pair sharing at least
    * `minShared` verbatim `windowTokens`-token runs — the GPT-3-style
    * 13-gram eval-contamination check (Brown et al. 2020 use 13; the
    * default follows). The Jaccard sibling is [[minhashCrossPairs]]; this
    * one catches VERBATIM overlap that token-set similarity dilutes away
    * (a single leaked eval answer inside a long train doc).
    *
    * Same machinery as [[sharedWindowPairs]] run across two frames: no
    * `a < b` invariant (sides are distinct corpora), the join meets only
    * on window-hash buckets — corpus×probe pairs that share nothing never
    * materialize. 100 TB shape: train-side windows shuffle once on the
    * hash; the eval side is orders of magnitude smaller and AQE
    * broadcast-joins its exploded window frame when it fits. */
  def sharedWindowCrossPairs(
      corpus: DataFrame,
      probe: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int = 13,
      minShared: Long = 1L): DataFrame = {
    require(windowTokens > 0, "windowTokens must be positive")
    def winFrame(df: DataFrame, out: String) =
      df.select(col(idCol).as(out),
        explode(windowHashes(col(textCol), windowTokens,
          distinctWithinDoc = true)).as("__w"))
    winFrame(corpus, "a_id").join(winFrame(probe, "b_id"), Seq("__w"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("shared_windows"))
      .where(col("shared_windows") >= minShared)
  }

  /** Per-corpus-doc contamination profile against a probe corpus:
    * `n_windows` (distinct windows in the doc), `n_contaminated` (of
    * those, how many appear verbatim anywhere in `probe`) and
    * `contamination_frac` — the THRESHOLDABLE form of the cross-corpus
    * check ("drop docs >5 % eval overlap" instead of any-hit removal).
    * Window-less short docs report zeros. Same shape as
    * [[duplicatedWindowStats]]: one distinct-window explode per side, one
    * semi-join on hashes, two per-doc counts — no pair aggregate. */
  def crossContaminationStats(
      corpus: DataFrame,
      probe: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int = 13): DataFrame = {
    require(windowTokens > 0, "windowTokens must be positive")
    val probeWins = probe
      .select(explode(windowHashes(col(textCol), windowTokens,
        distinctWithinDoc = true)).as("__w"))
      .distinct()
    val w = corpus.select(col(idCol).as("__id"),
      explode(windowHashes(col(textCol), windowTokens,
        distinctWithinDoc = true)).as("__w"))
    val tot = w.groupBy("__id").agg(count(lit(1)).as("n_windows"))
    val hit = w.join(probeWins, Seq("__w"), "left_semi")
      .groupBy("__id").agg(count(lit(1)).as("n_contaminated"))
    corpus.select(col(idCol))
      .join(tot.withColumnRenamed("__id", idCol), Seq(idCol), "left")
      .join(hit.withColumnRenamed("__id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        (coalesce(col("n_contaminated"), lit(0L)).cast("double") /
          greatest(coalesce(col("n_windows"), lit(0L)), lit(1L)).cast("double"))
          .as("contamination_frac"))
  }

  /** The probe-side LEFT-ANTI remover over [[sharedWindowCrossPairs]]'
    * collision set: corpus rows sharing NO verbatim `windowTokens`-token
    * run with any probe document (the clean training set after
    * eval-decontamination). Cheaper than the pair view when only the
    * survivor set is needed: contaminated ids come from ONE semi-join of
    * the corpus window frame against the probe's distinct windows — no
    * pair-grain aggregate ever forms. */
  def removeExactContaminated(
      corpus: DataFrame,
      probe: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int = 13): DataFrame = {
    require(windowTokens > 0, "windowTokens must be positive")
    val probeWins = probe
      .select(explode(windowHashes(col(textCol), windowTokens,
        distinctWithinDoc = true)).as("__w"))
      .distinct()
    val contaminated = corpus
      .select(col(idCol).as("__cid"),
        explode(windowHashes(col(textCol), windowTokens,
          distinctWithinDoc = true)).as("__w"))
      .join(probeWins, Seq("__w"), "left_semi")
      .select(col("__cid").as(idCol))
      .distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Per-document duplicated-window profile: for each doc, how much of it
    * is verbatim-duplicated elsewhere in the corpus — `n_windows`,
    * `n_dup_windows` (windows found in ≥1 OTHER doc), and
    * `dup_window_frac`, the fraction the Lee et al. substring-dedup
    * recipe thresholds on to REMOVE duplicated spans (a doc-level
    * summary; the pair view is [[sharedWindowPairs]]). Same one-shuffle
    * shape: windows hash-grouped to per-window doc counts, joined back,
    * one per-doc aggregate. Docs shorter than `windowTokens` report zero
    * windows and a 0.0 fraction. */
  def duplicatedWindowStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int = 20): DataFrame = {
    require(windowTokens > 0, "windowTokens must be positive")
    val w = df.select(col(idCol).as("__id"),
      explode(windowHashes(col(textCol), windowTokens,
        distinctWithinDoc = true)).as("__w"))
    // docs-per-window; a window is duplicated iff ≥2 docs carry it
    // (windows are distinct within doc, so count == distinct docs)
    val freq = w.groupBy("__w").agg(count(lit(1)).as("__docs"))
    val perDoc = w.join(freq, Seq("__w"))
      .groupBy(col("__id").as(idCol))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("__docs") >= 2, 1L).otherwise(0L)).as("n_dup_windows"))
    // left join back so window-less (short) docs appear with zeros
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        (coalesce(col("n_dup_windows"), lit(0L)).cast("double") /
          greatest(coalesce(col("n_windows"), lit(0L)), lit(1L)).cast("double"))
          .as("dup_window_frac"))
  }

  /** Exact-substring SPAN REMOVAL (the Lee et al. "Deduplicating Training
    * Data Makes Language Models Better" recipe, Spark-first): every token
    * covered by a `windowTokens`-token window that appears verbatim in at
    * least `minDocs` distinct documents is removed from the TEXT — all
    * occurrences, in every document — and the surviving tokens rejoin in
    * order. The doc-level views are [[duplicatedWindowStats]] (how much
    * would go) and [[sharedWindowPairs]] (who shares with whom); this one
    * actually edits the corpus. Output: input columns + `outCol` (the
    * cleaned text; empty string when everything was duplicated) +
    * `n_removed` (tokens dropped).
    *
    * Scale shape: window hashes are built per-row (codegen'd, the
    * suffix-array substitute), duplicated windows found with one
    * hash-aggregate; each duplicated-window OCCURRENCE then flows as an
    * INTERVAL `[pos, pos+windowTokens)` — two numbers, never one row per
    * covered position — so the shuffle stays at occurrence grain with no
    * ×windowTokens amplification on heavily-duplicated corpora.
    * Overlapping intervals merge per doc in one codegen'd linear fold over
    * the sorted occurrence starts (bounded by doc length), and the cleaned
    * text is reassembled per-row from the GAP slices between merged
    * intervals — no token-grain explode and no reassembly shuffle at all;
    * untouched docs pass through verbatim. Matching is on lowercased
    * tokens (consistent with the rest of the window family); removal
    * positions apply to the original-case tokens. */
  def removeDuplicateSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int = 50,
      minDocs: Long = 2L,
      outCol: String = "text_clean"): DataFrame = {
    require(windowTokens > 0, "windowTokens must be positive")
    require(minDocs >= 2, "minDocs must be >= 2 — a span is duplicated " +
      "only when it repeats across documents")
    // duplicated windows: distinct-within-doc explode makes plain count a
    // distinct-doc count (same trick as duplicatedWindowStats)
    val dupWins = df.select(explode(
        windowHashes(col(textCol), windowTokens,
          distinctWithinDoc = true)).as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__d"))
      .where(col("__d") >= minDocs).select("__w")
    cutSpansAt(df, idCol, textCol, windowTokens, dupWins, outCol)
  }

  /** Cross-corpus exact-substring SPAN removal: cut from `corpus` every
    * token covered by a `windowTokens`-token window that appears verbatim
    * ANYWHERE in `probe` (eval/benchmark releases) — the surgical
    * alternative to [[removeExactContaminated]]'s whole-document drop,
    * for pipelines that keep a long train doc but excise the leaked eval
    * lines it contains. Output mirrors [[removeDuplicateSpans]]: input
    * columns + `outCol` + `n_removed`.
    *
    * Scale shape: the bad-window set is the probe's distinct window
    * hashes (eval corpora are small — AQE broadcasts the semi-join side),
    * and everything downstream is the shared occurrence→interval→gap
    * pipeline: occurrence-grain shuffle, per-row reassembly, untouched
    * docs pass through verbatim. */
  def removeContaminatedSpans(
      corpus: DataFrame,
      probe: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int = 13,
      outCol: String = "text_clean"): DataFrame = {
    require(windowTokens > 0, "windowTokens must be positive")
    val badWins = probe
      .select(explode(windowHashes(col(textCol), windowTokens,
        distinctWithinDoc = true)).as("__w"))
      .distinct()
    cutSpansAt(corpus, idCol, textCol, windowTokens, badWins, outCol)
  }

  /** Shared span-cutting core ([[removeDuplicateSpans]] /
    * [[removeContaminatedSpans]]): remove from each doc every token
    * covered by an occurrence of a window whose hash is in `badWins`
    * (single column `__w`). Occurrences flow as INTERVAL starts — one row
    * per occurrence, never one row per covered position — merge per doc
    * in one codegen'd linear fold, and the cleaned text is rebuilt
    * per-row from the GAP slices between merged intervals. */
  private def cutSpansAt(
      df: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int,
      badWins: DataFrame,
      outCol: String): DataFrame = {
    val guarded = windowHashes(col(textCol), windowTokens,
      distinctWithinDoc = false)
    // bad-window OCCURRENCES as interval starts
    val occ = df.select(col(idCol).as("__id"),
      posexplode(guarded).as(Seq("__pos", "__w")))
    val wl = lit(windowTokens)
    // per-doc linear fold of the sorted starts into disjoint merged
    // intervals [s, e): equal-width windows mean sorted starts merge in a
    // single pass (extend the last interval iff the next start falls
    // inside it). A leading sentinel (e = -1 < any start) keeps
    // element_at(acc, -1) total under ANSI mode; the finisher strips it.
    val sentinel = array(struct(lit(-1).as("s"), lit(-1).as("e")))
    val ivCol = aggregate(
      sort_array(col("__starts")),
      sentinel,
      (acc, p) => {
        val last = element_at(acc, -1)
        when(p <= last("e"),
          concat(slice(acc, lit(1), size(acc) - 1),
            array(struct(last("s").as("s"), (p + wl).as("e")))))
          .otherwise(concat(acc, array(struct(p.as("s"), (p + wl).as("e")))))
      },
      acc => slice(acc, lit(2), size(acc) - 1))
    val merged = occ.join(badWins, Seq("__w"))
      .groupBy(col("__id"))
      .agg(collect_list(col("__pos")).as("__starts"))
      .select(col("__id").as(idCol), ivCol.as("__ivs"))
    // cleaned text = the GAP slices between merged intervals, rebuilt
    // per-row with codegen'd array functions — O(doc length), no shuffle
    val toks = split(col(textCol), " ")
    val gapS = concat(array(lit(0)), transform(col("__ivs"), iv => iv("e")))
    val gapE = concat(transform(col("__ivs"), iv => iv("s")), array(size(toks)))
    val cleaned = array_join(flatten(zip_with(gapS, gapE,
      (s, e) => slice(toks, s + lit(1), greatest(e - s, lit(0))))), " ")
    val nRemoved = aggregate(col("__ivs"), lit(0L),
      (a, iv) => a + (iv("e") - iv("s")))
    df.join(merged, Seq(idCol), "left")
      .withColumn(outCol,
        when(col("__ivs").isNull, col(textCol)).otherwise(cleaned))
      .withColumn("n_removed",
        when(col("__ivs").isNull, lit(0L)).otherwise(nRemoved))
      .drop("__ivs")
  }

  /** Connected components over a near-dup pair frame: `(id, cluster_id)`
    * for every id appearing in `pairs`, where `cluster_id` is the minimum
    * id transitively reachable — the canonical duplicate-cluster label a
    * curation pipeline groups on (pairs alone under-merge: a~b, b~c is ONE
    * cluster even when a!~c directly).
    *
    * Algorithm: min-label propagation with GRAPH CONTRACTION (the
    * MapReduce-CC family — cf. Kiveris et al., "Connected Components in
    * MapReduce and Beyond"). Initialization labels every node
    * min(self, neighbors) — one folded propagation sweep — then the edge
    * frame is CONTRACTED to the label graph (edges between distinct
    * labels, deduped). Dedup graphs are dominated by cliques and short
    * chains, so contraction collapses almost everything immediately: the
    * full edge frame is traversed exactly twice (init + first
    * contraction), and every later sweep runs on the label graph, which
    * shrinks geometrically toward empty. Convergence = the live graph is
    * EMPTY (no cross-cluster edge remains) — no label-diff scan needed.
    *
    * Per sweep: one aggregate over the live graph (min neighbor label per
    * label-node), one label-frame compose, one live-graph rewrite —
    * label-frame-sized frames broadcast below a byte budget (decided once
    * from the node count; a checkpointed frame has no stats, so without
    * the hint every sweep would sort-merge-shuffle). Lineage is truncated
    * per sweep with `localCheckpoint` (iterative-plan hygiene); the driver
    * holds only a one-row emptiness probe. Deterministic on any
    * partitioning: min is order-insensitive. Superseded sweeps'
    * checkpoint blocks become unreachable as the loop advances and are
    * reclaimed asynchronously by Spark's ContextCleaner after GC.
    *
    * Ref parity note: the reference has no graph operator; this extends the
    * dedup family the same way `minhashPairs` does (training-data ops
    * mandate, SURVEY §2 addendum). */
  def duplicateClusters(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    val spark = pairs.sparkSession
    // symmetrize via ONE explode, not a self-union: the union evaluated
    // the caller's pair plan TWICE before the checkpoint — for the
    // minhash-fed cluster queries that was the entire LSH candidate +
    // verify pipeline run a second time (r14; guide §2.4)
    val edges = pairs
      .select(explode(array(
        struct(col("a_id").as("src"), col("b_id").as("dst")),
        struct(col("b_id").as("src"), col("a_id").as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
      .distinct()
      .pinned()
    // init: every node labels itself min(self, min neighbor) — one sweep
    // of propagation folded into initialization
    var lab = edges.groupBy("src").agg(min("dst").as("mn"))
      .select(col("src").as("id"), least(col("src"), col("mn")).as("lab"))
      .pinned()
    // one count on the already-materialized checkpoint decides broadcast
    // ONCE (labels only merge; the frame never grows). Past the budget (a
    // billion-node dup graph) the shuffle joins below are right anyway.
    val nNodes = lab.count()
    val useBroadcast =
      nNodes * 48L <= graft.GraftConf.verifyBroadcastMaxBytes(spark)
    def hinted(df: DataFrame): DataFrame =
      if (useBroadcast) broadcast(df) else df
    // contract to the label graph: only edges BETWEEN clusters can still
    // change a label. Symmetry is preserved (edges is symmetric and the
    // map applies to both endpoints); the second full-edge pass.
    var live = edges
      .join(hinted(lab.select(col("id").as("src"), col("lab").as("sl"))), Seq("src"))
      .join(hinted(lab.select(col("id").as("dst"), col("lab").as("dl"))), Seq("dst"))
      .where(col("sl") =!= col("dl"))
      .select(col("sl").as("src"), col("dl").as("dst"))
      .distinct()
      .pinned()
    var iter = 0
    var done = live.isEmpty
    val finishLimit = graft.GraftConf.ccDriverFinishLimit(spark)
    while (!done && iter < maxIter) {
      // the contracted graph shrinks geometrically; once it is COUNTED
      // (cheap — checkpointed) under the bounded-collect budget, finish
      // with driver union-find: one collect of <= finishLimit 2-value
      // rows + one broadcast compose replaces every remaining sweep.
      // Giant graphs (count above budget) keep taking distributed sweeps.
      if (finishLimit > 0 && live.count() <= finishLimit) {
        def lt(a: Any, b: Any): Boolean =
          a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
        val parent = scala.collection.mutable.HashMap.empty[Any, Any]
        def find(x: Any): Any = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x // path compression
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        live.collect().foreach { row =>
          val (ra, rb) = (find(row.get(0)), find(row.get(1)))
          if (ra != rb) { // min value becomes the root
            if (lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
          }
        }
        val idType = live.schema("src").dataType
        val remap = parent.keys.map(k => (k, find(k)))
          .collect { case (k, r) if k != r => org.apache.spark.sql.Row(k, r) }
          .toSeq
        val mapDf = spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](
            scala.jdk.CollectionConverters.SeqHasAsJava(remap).asJava),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("l", idType),
            org.apache.spark.sql.types.StructField("nl", idType))))
        lab = lab.join(broadcast(mapDf), lab("lab") === col("l"), "left")
          .select(lab("id"), coalesce(col("nl"), lab("lab")).as("lab"))
        done = true
        iter += 1
        if (sys.env.contains("GRAFT_CC_DEBUG"))
          System.err.println(s"[ccdbg] sweep $iter driver-finish")
      } else {
      // propagate on the LIVE label graph: each label-node adopts the min
      // label among itself and its neighbors
      val prop = live.groupBy("src").agg(min("dst").as("mn"))
        .select(col("src").as("l"), least(col("src"), col("mn")).as("nl"))
      // compose into the full node->label map (labels not in prop are
      // already cluster-final)
      lab = lab.join(hinted(prop), lab("lab") === col("l"), "left")
        .select(lab("id"), coalesce(col("nl"), lab("lab")).as("lab"))
        .pinned()
      // rewrite the live graph through the same mapping and drop resolved
      // (now intra-cluster) edges
      val m1 = prop.select(col("l").as("src"), col("nl").as("s2"))
      val m2 = prop.select(col("l").as("dst"), col("nl").as("d2"))
      live = live
        .join(hinted(m1), Seq("src"), "left")
        .join(hinted(m2), Seq("dst"), "left")
        .select(coalesce(col("s2"), col("src")).as("src"),
          coalesce(col("d2"), col("dst")).as("dst"))
        .where(col("src") =!= col("dst"))
        .distinct()
        .pinned()
      done = live.isEmpty
      iter += 1
      if (sys.env.contains("GRAFT_CC_DEBUG"))
        System.err.println(s"[ccdbg] sweep $iter done=$done")
      }
    }
    if (!done) throw new IllegalStateException(
      s"duplicateClusters did not converge in $maxIter sweeps — " +
        "pathological graph; raise maxIter")
    lab.select(col("id"), col("lab").as("cluster_id"))
  }

  /** Transitive survivor selection: keep exactly one row (the minimum id)
    * per duplicate CLUSTER, plus every row in no pair at all. The
    * closure-correct counterpart of greedy [[keepFirst]]: for a chain
    * a~b, b~c it keeps a only (same result here), but it never drops two
    * representatives of what is actually one transitive group, and unlike
    * keepFirst its survivor set is stable under pair-order/direction
    * noise. One CC pass + one left-anti join. */
  def keepCanonical(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val drop = duplicateClusters(pairs)
      .where(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** QUALITY-AWARE transitive survivor selection: keep the BEST row of
    * each duplicate cluster — max `scoreCol`, ties broken by min id —
    * plus every row in no pair at all. What a curation pipeline actually
    * wants from near-dup removal: among N copies of a page, keep the one
    * the quality model scores highest (the cleanest extraction), not the
    * one that happens to carry the smallest id ([[keepCanonical]]).
    *
    * Scale shape: one CC pass over the PAIR frame
    * ([[duplicateClusters]]), then winner selection as two
    * MAP-SIDE-COMBINED aggregates — max score per cluster, then min id
    * among the max-score rows — and one left-anti join back. No window:
    * a boilerplate mega-cluster (millions of near-identical pages, the
    * common case in web corpora) partial-aggregates in every map task
    * instead of sorting in one window task, and the cluster-keyed join
    * between the rows and their cluster maximum is skew-splittable by
    * AQE because the aggregate side is one row per cluster. Null scores
    * follow the former `ORDER BY score DESC` (nulls-last) semantics: a
    * null never beats a non-null, and an all-null cluster keeps its min
    * id (null-safe `<=>` match against the null maximum). */
  def keepBest(
      df: DataFrame,
      idCol: String,
      scoreCol: String,
      pairs: DataFrame): DataFrame = {
    val clusters = duplicateClusters(pairs)
    // pinned: `scored` feeds THREE plan branches (cluster max, winner
    // selection, loser anti-join) — unpinned, each re-ran the df scan and
    // the clusters final relabel join (r15; guide §2.4). It holds one
    // (id, score, cluster_id) row per clustered doc — duplicates only.
    val scored = Ckpt.pin(df.select(col(idCol), col(scoreCol))
      .join(clusters.withColumnRenamed("id", idCol), Seq(idCol)))
    val best = scored.groupBy(col("cluster_id"))
      .agg(max(col(scoreCol)).as("__best"))
    val winners = scored.join(best, Seq("cluster_id"))
      .where(col(scoreCol) <=> col("__best"))
      .groupBy(col("cluster_id"))
      .agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
    val losers = scored.select(col(idCol)).join(winners, Seq(idCol), "left_anti")
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Cross-document boilerplate removal (the CCNet/RefinedWeb line-dedup
    * step): a LINE occurring in at least `minDocs` distinct documents is
    * boilerplate (nav bars, cookie banners, license footers) and is
    * stripped from every document; all other lines survive in their
    * original order. Lines shorter than `minLineChars` are always kept —
    * blank lines and one-character separators duplicate across any corpus
    * without being boilerplate, and stripping them would mangle paragraph
    * structure.
    *
    * Scale shape — the full corpus is never re-assembled from exploded
    * rows. (1) line→distinct-doc counts: one shuffle over per-doc-distinct
    * lines (`array_distinct` before the explode makes plain `count` a
    * distinct-doc count with map-side partial aggregation). (2) The
    * boilerplate line set (typically ≪ corpus) inner-joins the exploded
    * positions, so only boilerplate OCCURRENCES — (doc, position) pairs —
    * flow into the per-doc strip list; a line shared by millions of docs
    * skews this join's key, which AQE's skew split handles since the
    * boilerplate side is one row per line. (3) The strip lists (small)
    * join back to the ORIGINAL frame doc-grain, and each row filters its
    * own line array positionally — codegen'd, no corpus-sized groupBy.
    * A document whose every line is boilerplate yields an empty string.
    *
    * Ref parity note: the reference has no corpus-frequency text operator;
    * this extends the dedup family per the training-data-ops mandate
    * (SURVEY §2 addendum). */
  def stripBoilerplate(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minDocs: Long = 2L,
      minLineChars: Int = 1,
      outCol: String = "text_clean"): DataFrame = {
    require(minDocs >= 2, "minDocs must be >= 2 — a line is boilerplate " +
      "only when it repeats across documents")
    val lines = split(col(textCol), "\n")
    val eligible = df.select(col(idCol).as("__id"),
      explode(array_distinct(lines)).as("__line"))
      .where(length(col("__line")) >= minLineChars)
    val boiler = eligible.groupBy("__line")
      .agg(count(lit(1)).as("__docs"))
      .where(col("__docs") >= minDocs)
      .select("__line")
    // boilerplate occurrences only: (doc, 0-based position) per hit
    val strips = df.select(col(idCol).as("__id"),
        posexplode(lines).as(Seq("__pos", "__line")))
      .join(boiler, Seq("__line"))
      .groupBy("__id").agg(collect_set(col("__pos")).as("__strip"))
    df.join(strips, col(idCol) === strips("__id"), "left")
      .withColumn(outCol,
        when(col("__strip").isNull, col(textCol)).otherwise(array_join(
          filter(lines, (_, i) => !array_contains(col("__strip"), i)),
          "\n")))
      .drop("__id", "__strip")
  }

  /** Corpus-wide PARAGRAPH dedup (the CCNet recipe one grain up from
    * [[stripBoilerplate]]'s frequency threshold): every distinct paragraph
    * survives in exactly ONE place — its first occurrence by
    * `(id, position)` — and every other occurrence anywhere in the corpus
    * is cut; surviving paragraphs rejoin in order with `sep`. Unlike
    * boilerplate stripping (which only fires at `minDocs` repeats and
    * keeps NO copy), this keeps one canonical copy of everything.
    * Paragraphs shorter than `minChars` never count as duplicates (empty
    * segments from doubled separators pass through untouched). Output:
    * input columns + `outCol` + `n_removed` (paragraphs cut). Ids must be
    * orderable — the min-(id, pos) winner rule is what makes reruns and
    * repartitions pick the SAME survivors.
    *
    * Scale shape: paragraphs shuffle once at occurrence grain keyed by
    * paragraph hash (min-struct aggregate picks winners — no window, no
    * skew cliff beyond the hottest paragraph's occurrence count, and the
    * map-side partial min collapses most of a hot paragraph's volume
    * before the exchange); only LOSING occurrences flow onward, grouped
    * per doc into a position list; affected docs rebuild per-row with a
    * codegen'd filter over the split array — untouched docs never leave
    * the scan. */
  def dedupParagraphs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sep: String = "\n",
      minChars: Int = 1,
      outCol: String = "text_clean"): DataFrame = {
    require(sep.nonEmpty, "sep must be non-empty")
    val paras = split(col(textCol), java.util.regex.Pattern.quote(sep))
    val occ = df.select(col(idCol).as("__id"),
        posexplode(paras).as(Seq("__pos", "__para")))
      .where(length(col("__para")) >= minChars)
      .select(col("__id"), col("__pos"), xxhash64(col("__para")).as("__h"))
    val winners = occ.groupBy("__h")
      .agg(min(struct(col("__id"), col("__pos"))).as("__win"))
    val losses = occ.join(winners, Seq("__h"))
      .where(struct(col("__id"), col("__pos")) =!= col("__win"))
      .groupBy(col("__id"))
      .agg(collect_set(col("__pos")).as("__cut"),
        count(lit(1)).as("__nrm"))
    df.join(losses, col(idCol) === losses("__id"), "left")
      .withColumn(outCol,
        when(col("__cut").isNull, col(textCol)).otherwise(array_join(
          filter(paras, (_, i) => !array_contains(col("__cut"), i)), sep)))
      .withColumn("n_removed", coalesce(col("__nrm"), lit(0L)))
      .drop("__id", "__cut", "__nrm")
  }
}
