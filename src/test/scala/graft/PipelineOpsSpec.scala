package graft

import org.apache.spark.sql.functions._

import graft.harness.Lake
import graft.operators.{Dedup, Dsir, Multimodal, Sampling, Similarity, TextAnalysis}

/** LLM-data-pipeline operators: dedup families, similarity search, text
  * analysis, multimodal plumbing — each against an exact Spark oracle. */
class PipelineOpsSpec extends GraftSuite {
  lazy val lake: Lake = Lake.get(spark, sf)
  lazy val docs = lake.documents.cache()
  lazy val emb = lake.embeddings.cache()

  test("corpusDiff: hand-built snapshots label added/removed/changed/" +
      "unchanged; stats agree; no text ever shuffles") {
    import spark.implicits._
    val oldV = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "t")
    val newV = Seq((2L, "b"), (3L, "c2"), (4L, "d")).toDF("id", "t")
    val got = Dedup.corpusDiff(oldV, newV, "id", "t")
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "removed", 2L -> "unchanged",
      3L -> "changed", 4L -> "added"))
    val s = Dedup.corpusDiffStats(oldV, newV, "id", "t")
      .as[(Long, Long, Long, Long)].first()
    assert(s == ((1L, 1L, 1L, 1L)))
    // content is hashed per side before the join: the join's exchange
    // must not carry the text column
    val plan = Dedup.corpusDiff(docs, docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("text#") ||
      plan.split('\n').filter(_.contains("Exchange"))
        .forall(!_.contains("text#")),
      "diff exchange must carry hashes, not documents")
  }

  test("tokenEntropy: hand-computed values, degenerate and uniform ends") {
    import spark.implicits._
    val df = Seq((1L, "a a a a"), (2L, "w x y z"), (3L, "a a b b"),
      (4L, "Q")).toDF("id", "t")
    val got = df.select(col("id"),
      TextAnalysis.tokenEntropy(col("t")).as("h"))
      .as[(Long, Double)].collect().toMap
    assert(got(1L) == 0.0, "degenerate repetition must be zero entropy")
    assert(math.abs(got(2L) - math.log(4)) < 1e-12, "uniform = ln(m)")
    assert(math.abs(got(3L) - math.log(2)) < 1e-12)
    assert(got(4L) == 0.0, "single token")
    // SQL twin resolves to the same expression
    graft.catalog.GraftFunctions.register(spark)
    df.createOrReplaceTempView("ent_docs")
    val viaSql = spark.sql(
      "SELECT id, graft_token_entropy(t) AS h FROM ent_docs")
    assertSameRows(viaSql,
      df.select(col("id"), TextAnalysis.tokenEntropy(col("t")).as("h")))
  }

  test("exact dedup keeps min id per key group") {
    val got = Dedup.exact(docs, Seq("lang"), "doc_id")
    val want = docs.groupBy("lang")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("dup_count"))
    assertSameRows(got, want)
  }

  test("minhash LSH finds every identical-token-set pair (jaccard 1.0)") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 1.0)
    val t = docs.select(col("doc_id"),
      array_sort(Dedup.tokenSet(col("text"))).as("k"))
    val want = t.as("a").join(t.as("b"),
        col("a.k") === col("b.k") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
    assertSameRows(pairs, want)
  }

  test("minhash candidates never miss pairs above threshold 0.95") {
    val got = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.95)
    val t = docs.select(col("doc_id"), Dedup.tokenSet(col("text")).as("ts"))
    val want = t.as("a").join(t.as("b"), col("a.doc_id") < col("b.doc_id"))
      .where(Dedup.jaccard(col("a.ts"), col("b.ts")) >= 0.95)
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
    assertSameRows(got, want)
  }

  test("sortedIntJaccardAtLeast == jaccardSortedHashed >= t (early-exit " +
      "differential, r14)") {
    import spark.implicits._
    // random sorted int-hash sets of varied sizes, incl. equal, disjoint,
    // near-threshold and single-element shapes
    val rnd = new scala.util.Random(7)
    val rows = (1 to 400).map { i =>
      val n = 1 + rnd.nextInt(40)
      val base = Array.fill(n)(rnd.nextInt(200)).distinct.sorted
      val m = 1 + rnd.nextInt(40)
      val other =
        if (i % 5 == 0) base // identical sets must pass at every t
        else Array.fill(m)(rnd.nextInt(200)).distinct.sorted
      (base.toSeq, other.toSeq)
    }
    val df = rows.toDF("a", "b")
      .select(col("a").cast("array<int>"), col("b").cast("array<int>"))
    Seq(0.3, 0.9, 0.95, 1.0).foreach { t =>
      val mismatch = df.where(
        graft.functions.VectorOps.sortedIntJaccardAtLeast(col("a"), col("b"), t)
          =!= (Dedup.jaccardSortedHashed(col("a"), col("b")) >= t)).count()
      assert(mismatch == 0, s"early-exit Jaccard diverges at t=$t")
    }
    // corpus-shape differential: the real hashed token sets
    val toks = docs.select(Dedup.hashedSet(Dedup.tokenSet(col("text"))).as("ts"))
    val pairs = toks.as("x").crossJoin(toks.as("y")).limit(200000)
    val mism = pairs.where(
      graft.functions.VectorOps.sortedIntJaccardAtLeast(col("x.ts"), col("y.ts"), 0.95)
        =!= (Dedup.jaccardSortedHashed(col("x.ts"), col("y.ts")) >= 0.95)).count()
    assert(mism == 0)
  }

  test("hashedNgramSet ASCII fast path == generic path (r14)") {
    import spark.implicits._
    // force the generic path by appending a non-ASCII char to a copy and
    // compare gram sets of the shared ASCII prefix computed both ways:
    // an ASCII string's set must equal the set of the same string routed
    // through the generic branch (simulated via a mixed corpus of short,
    // empty, len<n and long strings)
    val strs = Seq("", "a", "ab", "abc", "abcd", "the quick brown fox",
      "aaaaaaa", "ab" * 40, "héllo wörld", "naïve café", "x" * 3)
    val df = strs.toDF("t")
    val got = df.select(col("t"),
      graft.functions.VectorOps.hashedNgramSet(col("t"), 3).as("g")).collect()
    // reference: hash each UTF-16-substring's UTF-8 bytes (the original
    // formulation, verbatim)
    def ref(s: String, n: Int): Seq[Int] = {
      val len = s.length
      val count = math.max(len - n + 1, 1)
      (0 until count).map { i =>
        val bytes = s.substring(i, math.min(i + n, len))
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
          bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
          bytes.length, 42)
      }.distinct.sorted
    }
    got.foreach { r =>
      val s = r.getString(0)
      assert(r.getSeq[Int](1) == ref(s, 3), s"gram set diverged for '$s'")
    }
  }

  test("cross-corpus decontamination: full recall vs brute cross jaccard, no cartesian") {
    import spark.implicits._
    val train = docs.where(pmod($"doc_id", lit(5)) =!= 0)
    val heldout = docs.where(pmod($"doc_id", lit(5)) === 0)
    val got = Dedup.minhashCrossPairs(train, heldout, "doc_id", "text", 0.95)
    val toks = (d: org.apache.spark.sql.DataFrame, side: String) =>
      d.select($"doc_id".as(s"${side}_id"),
        array_distinct(split(lower($"text"), " ")).as(s"ts_$side"))
    val brute = toks(train, "a").crossJoin(toks(heldout, "b"))
      .where(size(array_intersect($"ts_a", $"ts_b")).cast("double") /
        size(array_union($"ts_a", $"ts_b")).cast("double") >= 0.95)
      .select("a_id", "b_id")
    assert(brute.count() > 0, "fixture must contain cross-split near-dups")
    assertSameRows(got, brute)
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian") && !plan.contains("BroadcastNestedLoop"),
      "cross-dedup must bucket-join, never all-pairs")
  }

  test("simhash pairs == exact token-set duplicates") {
    val got = Dedup.simhashPairs(docs, "doc_id", "text")
    val t = docs.select(col("doc_id"),
      array_sort(Dedup.tokenSet(col("text"))).as("k"))
    val want = t.as("a").join(t.as("b"),
        col("a.k") === col("b.k") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
    assertSameRows(got, want)
  }

  test("ngram prefix filter has recall 1 at threshold 0.9") {
    val got = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.9)
    val g = docs.select(col("doc_id"), Dedup.ngramSet(col("text"), 3).as("gs"))
    val want = g.as("a").join(g.as("b"), col("a.doc_id") < col("b.doc_id"))
      .where(Dedup.jaccard(col("a.gs"), col("b.gs")) >= 0.9)
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
    assertSameRows(got, want)
  }

  test("ngram pairs == brute-force Jaccard pairs at n = 5 with planted " +
      "near-duplicates and on a tie-heavy corpus; each pair emitted once") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val vocab = (0 until 300).map(i => s"w${i}x${(i * 7919) % 97}")
    val base = (0 until 60).map(_ => Seq.fill(30)(vocab(rnd.nextInt(vocab.size))))
    // every sixth doc gets a copy with one or two words replaced
    val near = base.zipWithIndex.collect { case (ws, i) if i % 6 == 0 =>
      ws.updated(rnd.nextInt(ws.size), "swapped").updated(i % ws.size, "other")
    }
    val planted = (base ++ near ++ base.take(3)).map(_.mkString(" "))
    // few distinct grams, each in most docs: the sketch estimates tie and
    // the order falls back to the gram value
    val ties = (0 until 40).map(_ =>
      Seq.fill(4 + rnd.nextInt(8))(Seq("ab", "ba", "aab")(rnd.nextInt(3))).mkString(" "))
    for ((texts, n, t) <- Seq((planted, 5, 0.7), (ties, 3, 0.6))) {
      val corpus = texts.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "text")
      val got = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", t, n)
      val g = corpus.select(col("doc_id"), Dedup.ngramSet(col("text"), n).as("gs"))
      val want = g.as("a").join(g.as("b"), col("a.doc_id") < col("b.doc_id"))
        .where(Dedup.jaccard(col("a.gs"), col("b.gs")) >= t)
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      assert(want.count() >= 10, s"n=$n corpus must hold qualifying pairs")
      assertSameRows(got, want)
      assert(got.count() == got.distinct().count(), s"n=$n: a pair was emitted twice")
    }
    assert(Dedup.ngramJaccardPairs(docs.limit(0), "doc_id", "text", 0.9).count() == 0)
  }

  test("ngram pairs: the call runs one job, and the plan has no gram " +
      "aggregate, collect_list or distinct") {
    docs.count()
    var got: org.apache.spark.sql.DataFrame = null
    assert(jobsIn { got = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.9) } == 1)
    import org.apache.spark.sql.catalyst.expressions.aggregate.CollectList
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Deduplicate, Distinct}
    val plan = got.queryExecution.optimizedPlan
    val banned = plan.collect {
      case p: Aggregate => p
      case p: Distinct => p
      case p: Deduplicate => p
      case p if p.expressions.exists(_.find(_.isInstanceOf[CollectList]).isDefined) => p
    }
    assert(banned.isEmpty, s"ngram pairs plan:\n$plan")
    // each prefix row slices its prefix once: one slice per join side, and
    // no inferred filter that slices again below the projection
    import org.apache.spark.sql.catalyst.expressions.Slice
    val slices = plan.flatMap(_.expressions.flatMap(_.collect { case s: Slice => s }))
    assert(slices.size == 2, s"ngram pairs plan:\n$plan")
  }

  test("simhashNearPairs covers hamming <= k exactly (banding pigeonhole)") {
    val got = Dedup.simhashNearPairs(docs, "doc_id", "text", maxHamming = 3)
    val sh = Dedup.simhash(docs, "doc_id", "text")
    val want = sh.as("a").join(sh.as("b"), col("a.__id") < col("b.__id"))
      .where(bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))) <= 3)
      .select(col("a.__id").as("a_id"), col("b.__id").as("b_id"))
    assertSameRows(got, want)
    // superset of the exact-duplicate pairs (hamming 0)
    val exact = Dedup.simhashPairs(docs, "doc_id", "text")
    assert(exact.exceptAll(got).count() == 0)
  }

  test("no dedup path contains a cartesian product") {
    val plans = Seq(
      Dedup.minhashPairs(docs, "doc_id", "text", 0.95),
      Dedup.simhashPairs(docs, "doc_id", "text"),
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.9))
      .map(_.queryExecution.executedPlan.toString)
    plans.foreach { p =>
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"dedup plan must bucket-join, not cross-join:\n${p.take(800)}")
    }
  }

  test("LSH ANN returns a subset of brute-force pairs, nonempty at 0.4") {
    val brute = Similarity.cosinePairs(emb, "vec_id", "embedding", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshCosinePairs(emb, "vec_id", "embedding", 64, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.nonEmpty, "LSH found nothing")
    assert(lsh.subsetOf(brute), s"LSH produced non-pairs: ${lsh -- brute}")
  }

  test("IVF ANN returns a subset of brute-force pairs, nonempty at 0.4") {
    val brute = Similarity.cosinePairs(emb, "vec_id", "embedding", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfCosinePairs(emb, "vec_id", "embedding", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf.nonEmpty, "IVF found nothing")
    assert(ivf.subsetOf(brute), s"IVF produced non-pairs: ${ivf -- brute}")
  }

  test("trainCentroids: counts partition the corpus, deterministic, recall-safe") {
    val trained = Similarity.trainCentroids(emb, "vec_id", "embedding",
      nCells = 16, iters = 2).collect()
    assert(trained.length == 16)
    assert(trained.map(_.getLong(2)).sum == emb.count(),
      "final-iteration assignment counts must partition the corpus")
    // bit-deterministic across reruns (rounded/float-cast means)
    val again = Similarity.trainCentroids(emb, "vec_id", "embedding",
      nCells = 16, iters = 2).collect()
    assert(trained.map(_.toString).toSeq == again.map(_.toString).toSeq)
    // trained quantizer keeps the IVF precision guarantee (verify step):
    // pairs are still a subset of brute-force pairs
    val brute = Similarity.cosinePairs(emb, "vec_id", "embedding", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfCosinePairs(emb, "vec_id", "embedding", 0.4,
      trainIters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf.subsetOf(brute), s"trained IVF produced non-pairs: ${ivf -- brute}")
  }

  test("trainCentroids: dim=1024 trains in bounded time with one agg column") {
    import spark.implicits._
    // production-dim embeddings: the per-dimension avg(element_at) Lloyd
    // formulation would put 1024 aggregate expressions in one plan; the
    // VectorSumAggregator keeps it at two agg columns at any dim — this
    // test is the analysis/codegen-blowup regression guard
    val dim = 1024
    val pts = (0 until 200).map { i =>
      val base = if (i % 2 == 0) 1f else -1f
      (i.toLong, Seq.tabulate(dim)(j => base * (1f + 0.001f * ((i + j) % 7))))
    }.toDF("vec_id", "embedding")
    val trained = Similarity.trainCentroids(pts, "vec_id", "embedding",
      nCells = 4, iters = 2).collect()
    assert(trained.length == 4)
    assert(trained.map(_.getLong(2)).sum == 200L)
    assert(trained.forall(
      _.getAs[scala.collection.Seq[Float]]("centroid").length == dim))
  }

  test("int8 quantization: values bounded, zero vector safe, cosine error small") {
    import spark.implicits._
    val q = Similarity.quantizeInt8(emb, "embedding")
    // every quantized element in [-127, 127]; max |element| == 127 exactly
    // for non-zero vectors (the max-|x| element maps to the full range)
    val bad = q.where(exists(col("qvec"), x => abs(x) > 127)).count()
    assert(bad == 0, s"$bad vectors quantized outside [-127,127]")
    val notFull = q.where(size(col("qvec")) > 0 && col("scale") > 0 &&
      array_max(transform(col("qvec"), x => abs(x))) =!= 127).count()
    assert(notFull == 0, "non-zero vectors must use the full int8 range")
    val zv = Similarity.quantizeInt8(
      Seq((1L, Seq(0f, 0f, 0f))).toDF("vec_id", "embedding"), "embedding")
      .select("scale", "qvec").first()
    assert(zv.getDouble(0) == 0.0 &&
      zv.getAs[scala.collection.Seq[Int]](1).forall(_ == 0))
    // approx cosine within the rounding bound on real pairs
    val a = q.where($"vec_id" < 50).select($"vec_id".as("a_id"),
      $"embedding".as("va"), $"scale".as("sa"), $"qvec".as("qa"))
    val b = q.where($"vec_id" >= 50 && $"vec_id" < 100).select(
      $"vec_id".as("b_id"), $"embedding".as("vb"), $"scale".as("sb"),
      $"qvec".as("qb"))
    val err = a.crossJoin(b)
      .select(abs(
        Similarity.int8Cosine($"qa", $"sa", $"qb", $"sb") -
          graft.functions.VectorOps.dotF($"va", $"vb") /
          (graft.functions.VectorOps.normF($"va") *
            graft.functions.VectorOps.normF($"vb"))).as("e"))
      .agg(max($"e")).first().getDouble(0)
    assert(err < 0.02, s"int8 cosine error $err exceeds bound")
  }

  test("trainCentroids: Lloyd iterations move centroids to cluster means") {
    import spark.implicits._
    // two tight, well-separated clusters; wherever the md5 seed lands,
    // two refinement passes must produce one centroid per cluster
    val pts = ((0 until 10).map(i => (i.toLong, Seq(1f, 0.001f * i))) ++
      (10 until 20).map(i => (i.toLong, Seq(0.001f * (i - 10), 1f))))
      .toDF("vec_id", "embedding")
    val got = Similarity.trainCentroids(pts, "vec_id", "embedding",
      nCells = 2, iters = 3).collect()
      .map(r => (r.getAs[scala.collection.Seq[Float]]("centroid"),
        r.getLong(2))).sortBy(-_._2)
    assert(got.map(_._2).sum == 20)
    val axes = got.map { case (c, _) => if (c(0) > c(1)) 0 else 1 }.toSet
    assert(axes == Set(0, 1),
      s"expected one centroid per cluster, got ${got.mkString(", ")}")
  }

  test("IVF assignment: codegen'd nearest-cells == crossJoin+window oracle, shuffle-free") {
    import graft.functions.{CentroidSet, VectorOps}
    // any deterministic centroid pick works for the differential — the test
    // pins the ASSIGNMENT math, not the quantizer
    val centroidRows = emb.where(col("vec_id") < 4)
      .orderBy("vec_id").select("vec_id", "embedding").collect()
    val cs = new CentroidSet(centroidRows.map(
      _.getAs[scala.collection.Seq[Float]]("embedding").toArray))
    val got = emb.select(col("vec_id"),
      explode(VectorOps.nearestCells(col("embedding"), cs, 2)).as("__cid"))
    // the r4 formulation, rebuilt as the oracle: nCells× crossJoin then a
    // row_number window keeping the nProbe best (cosine desc, cid asc)
    import spark.implicits._
    val cents = centroidRows.zipWithIndex.map { case (r, i) =>
      (i.toLong, r.getAs[scala.collection.Seq[Float]]("embedding").toArray)
    }.toSeq.toDF("__cid", "__cvec")
    val scored = emb.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(cents))
      .withColumn("__sim", VectorOps.dotF(col("embedding"), col("__cvec")) /
        (VectorOps.normF(col("embedding")) * VectorOps.normF(col("__cvec"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("__sim").desc, col("__cid"))
    val want = scored.withColumn("__r", row_number().over(w))
      .where(col("__r") <= 2).select("vec_id", "__cid")
    assertSameRows(got, want)
    // the scale property the rewrite exists for: assignment is ONE codegen'd
    // scan — no exchange, no window (r4 verdict finding #1)
    val assignPlan = got.queryExecution.executedPlan.toString
    assert(!assignPlan.contains("Exchange") && !assignPlan.contains("Window"),
      s"IVF assignment must be a shuffle-free scan:\n${assignPlan.take(800)}")
    val pairsPlan = Similarity.ivfCosinePairs(emb, "vec_id", "embedding", 0.4)
      .queryExecution.executedPlan.toString
    assert(!pairsPlan.contains("Window"),
      "ivfCosinePairs must not reintroduce the window formulation")
  }

  test("sharedWindowPairs == raw-string window reference; short docs excluded") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "a b c d e f"),        // shares window [b c d e] with 2
      (2L, "x b c d e y"),
      (3L, "a b c d e f"),        // exact dup of 1: 3 shared windows
      (4L, "q r s"),              // shorter than window: no windows
      (5L, "unrelated text entirely here")
    ).toDF("doc_id", "text")
    val got = Dedup.sharedWindowPairs(fixture, "doc_id", "text",
      windowTokens = 4)
    // reference over raw window STRINGS (no hashing)
    val toks = split(lower($"text"), " ")
    val w = fixture.where(size(toks) >= 4).select($"doc_id", explode(
      array_distinct(transform(sequence(lit(0), size(toks) - 4),
        i => concat_ws("\u0001", slice(toks, i + 1, lit(4)))))).as("w"))
    val want = w.as("a").join(w.as("b"),
        $"a.w" === $"b.w" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("a_id"), $"b.doc_id".as("b_id"))
      .agg(count(lit(1)).as("shared_windows"))
    assertSameRows(got, want)
    // sanity on the fixture: (1,3) share 3 windows, (1,2) and (2,3) share 1
    val m = got.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(m((1L, 3L)) == 3 && m((1L, 2L)) == 1 && m((2L, 3L)) == 1 && m.size == 3)
    // maxDocsPerWindow drops the 3-doc "b c d e" window first: only the
    // doc-1/doc-3 exact-dup windows survive
    val capped = Dedup.sharedWindowPairs(fixture, "doc_id", "text",
        windowTokens = 4, maxDocsPerWindow = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(capped == Map((1L, 3L) -> 2L), s"got $capped")
    // and on the real corpus: hashed pairs == raw-string pairs
    val gotDocs = Dedup.sharedWindowPairs(docs, "doc_id", "text", windowTokens = 10)
    val td = split(lower($"text"), " ")
    val wd = docs.where(size(td) >= 10).select($"doc_id", explode(
      array_distinct(transform(sequence(lit(0), size(td) - 10),
        i => concat_ws("\u0001", slice(td, i + 1, lit(10)))))).as("w"))
    val wantDocs = wd.as("a").join(wd.as("b"),
        $"a.w" === $"b.w" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("a_id"), $"b.doc_id".as("b_id"))
      .agg(count(lit(1)).as("shared_windows"))
    assertSameRows(gotDocs, wantDocs)
    // scale shape: the self-join's second side must REUSE the first
    // side's window-hash exchange (one scan, one shuffle materialization),
    // and nothing may cross-join. AQE's toString prints Final AND Initial
    // plan sections — inspect the final section only.
    gotDocs.collect()
    val plan = gotDocs.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("ReusedExchange") ||
      "Exchange hashpartitioning".r.findAllIn(plan).size <= 2,
      s"window self-join should share one shuffle:\n${plan.take(1200)}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("extractUrls/urlDomain/redactPii on handwritten edge cases") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "go to https://A.Example.com:8443/x?q=1#f now", ""),
      (2L, "plain http://cdn.example.org/end", ""),
      (3L, "no links here", ""),
      (4L, "", "a@b.io b2@sub.domain.co.uk 10.0.0.1 12345678 1.2.3 x"),
      (5L, "", "ends with mail person@host.org")
    ).toDF("id", "urltext", "piitext")
    val urls = TextAnalysis.extractUrls(
        fixture.select($"id", $"urltext".as("text")), "id", "text")
      .select($"id", $"url", TextAnalysis.urlDomain($"url").as("domain"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(urls == Set(
      (1L, "https://A.Example.com:8443/x?q=1#f", "a.example.com:8443"),
      (2L, "http://cdn.example.org/end", "cdn.example.org")))
    val red = fixture.select($"id",
        TextAnalysis.redactPii($"piitext").as("r"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(red(4L) == "<EMAIL> <EMAIL> <IP> <NUM> 1.2.3 x", red(4L))
    assert(red(5L) == "ends with mail <EMAIL>")
  }

  test("duplicatedWindowStats == explode reference; short docs report zeros") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "a b c d e f"),
      (2L, "x b c d e y"),
      (3L, "a b c d e f"),
      (4L, "q r")                            // shorter than window
    ).toDF("doc_id", "text")
    val got = Dedup.duplicatedWindowStats(fixture, "doc_id", "text",
      windowTokens = 4)
    // doc1/doc3: 3 windows each, all duplicated (exact dups + bcde in 2);
    // doc2: 3 windows, only bcde duplicated; doc4: none
    val m = got.collect().map(r =>
      (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(m(1L) == ((3L, 3L, 1.0)) && m(3L) == ((3L, 3L, 1.0)))
    assert(m(2L) == ((3L, 1L, 1.0 / 3.0)))
    assert(m(4L) == ((0L, 0L, 0.0)))
    // corpus differential vs an explode-based reference
    val td = split(lower($"text"), " ")
    val wd = docs.where(size(td) >= 10).select($"doc_id", explode(
      array_distinct(transform(sequence(lit(0), size(td) - 10),
        i => concat_ws("\u0001", slice(td, i + 1, lit(10)))))).as("w"))
    val f = wd.groupBy("w").agg(count(lit(1)).as("d"))
    val perDoc = wd.join(f, "w").groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when($"d" >= 2, 1L).otherwise(0L)).as("n_dup_windows"))
    val want = docs.select($"doc_id").join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_windows", lit(0L)).as("n_windows"),
        coalesce($"n_dup_windows", lit(0L)).as("n_dup_windows"),
        (coalesce($"n_dup_windows", lit(0L)).cast("double") /
          greatest(coalesce($"n_windows", lit(0L)), lit(1L)).cast("double"))
          .as("dup_window_frac"))
    assertSameRows(
      Dedup.duplicatedWindowStats(docs, "doc_id", "text", windowTokens = 10),
      want)
  }

  test("duplicateClusters: min-reachable label on chains, cliques, bridges") {
    import spark.implicits._
    // chain 1-2-3-4; clique {10,11,12}; star 20-{21,22}; bridge 30-31-32
    // given with mixed edge direction (the op symmetrizes)
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (10L, 12L), (11L, 12L),
      (20L, 21L), (20L, 22L),
      (30L, 31L), (32L, 31L)).toDF("a_id", "b_id")
    val got = Dedup.duplicateClusters(pairs)
    val want = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
      (10L, 10L), (11L, 10L), (12L, 10L),
      (20L, 20L), (21L, 20L), (22L, 20L),
      (30L, 30L), (31L, 30L), (32L, 30L)).toDF("id", "cluster_id")
    assertSameRows(got, want)
  }

  test("removeDuplicateSpans: covered tokens cut, case preserved, counts exact") {
    val s = spark
    import s.implicits._
    val fixture = Seq(
      (1L, "a b c d e f"), // "a b c" duplicated -> keep "d e f"
      (2L, "z a b c y"),   // interior occurrence -> keep "z y"
      (3L, "q r s"),       // untouched, passes through verbatim
      (4L, "a b c"),       // fully duplicated -> empty
      (5L, "A b c x")      // matching is lowercased; original case removed
    ).toDF("doc_id", "text")
    val got = Dedup.removeDuplicateSpans(fixture, "doc_id", "text",
        windowTokens = 3).select("doc_id", "text_clean", "n_removed")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got(1L) == (("d e f", 3L)))
    assert(got(2L) == (("z y", 3L)))
    assert(got(3L) == (("q r s", 0L)))
    assert(got(4L) == (("", 3L)))
    assert(got(5L) == (("x", 3L)))
  }

  test("removeDuplicateSpans: no position-grain explode in the plan") {
    val s = spark
    import s.implicits._
    val fixture = Seq((1L, "a b c d e f"), (2L, "z a b c y")).toDF("doc_id", "text")
    val got = Dedup.removeDuplicateSpans(fixture, "doc_id", "text", windowTokens = 3)
    got.collect()
    // AQE's toString appends the pre-adaptive plan after "== Initial Plan
    // ==" — count generators in the FINAL (executed) section only
    val plan = got.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // exactly two generators survive: the window-occurrence posexplode and
    // the distinct-window explode feeding the duplicate filter — the old
    // per-position sequence() explode and the token-grain reassembly
    // posexplode must both be gone
    val gens = "Generate".r.findAllIn(plan).size
    assert(gens == 2, s"expected 2 Generate nodes, got $gens:\n$plan")
    // the old amplification was a Generate whose generator exploded a
    // per-position sequence over __pos — no Generate line may do that now
    // (sequence() inside the window-hash transform is fine and expected)
    val badGen = plan.linesIterator.exists(l =>
      l.contains("Generate explode(sequence("))
    assert(!badGen, s"per-position sequence explode resurfaced:\n$plan")
  }

  test("removeDuplicateSpans == all-docs reassembly reference on the corpus") {
    val s = spark
    import s.implicits._
    val w = 10
    val lt = split(lower($"text"), " ")
    val wins = when(size(lt) >= w, transform(sequence(lit(0), size(lt) - w),
      i => xxhash64(concat_ws("\u0001", slice(lt, i + 1, lit(w))))))
      .otherwise(array().cast("array<long>"))
    val occ = docs.select($"doc_id", posexplode(wins).as(Seq("pos", "win")))
    val dup = occ.groupBy("win").agg(countDistinct($"doc_id").as("d"))
      .where($"d" >= 2).select("win")
    val cov = occ.join(dup, Seq("win"))
      .select($"doc_id", explode(sequence($"pos", $"pos" + lit(w - 1))).as("p"))
      .distinct()
    // reference reassembles EVERY doc from tokens (no affected-only path)
    val toks = docs.select($"doc_id", posexplode(split($"text", " ")).as(Seq("p", "tk")))
    val want = docs.select($"doc_id").join(
        toks.join(cov, Seq("doc_id", "p"), "left_anti")
          .groupBy("doc_id")
          .agg(array_join(transform(array_sort(collect_list(struct($"p", $"tk"))),
            x => x("tk")), " ").as("text_clean")),
        Seq("doc_id"), "left")
      .join(cov.groupBy("doc_id").agg(count(lit(1)).as("n_removed")),
        Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"text_clean", lit("")).as("text_clean"),
        coalesce($"n_removed", lit(0L)).as("n_removed"))
    val got = Dedup.removeDuplicateSpans(docs.select("doc_id", "text"),
      "doc_id", "text", windowTokens = w)
      .select("doc_id", "text_clean", "n_removed")
    assertSameRows(got, want)
  }

  test("sharedWindowCrossPairs: full recall vs raw window-string cross-comparison") {
    val s = spark
    import s.implicits._
    val w = 10
    val train = docs.where(pmod($"doc_id", lit(5)) =!= 0)
    val ev = docs.where(pmod($"doc_id", lit(5)) === 0)
    // ground truth on RAW window strings (no hashing): any xxhash64
    // collision or missed window would show up as a diff
    def winStrings(df: org.apache.spark.sql.DataFrame, out: String) = {
      val lt = split(lower($"text"), " ")
      df.select(col("doc_id").as(out), explode(when(size(lt) >= w,
        array_distinct(transform(sequence(lit(0), size(lt) - w),
          i => concat_ws("\u0001", slice(lt, i + 1, lit(w))))))
        .otherwise(array().cast("array<string>"))).as("wk"))
    }
    val want = winStrings(train, "a_id").join(winStrings(ev, "b_id"), Seq("wk"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("shared_windows"))
    val got = Dedup.sharedWindowCrossPairs(train, ev, "doc_id", "text",
      windowTokens = w)
    assert(got.count() > 0, "fixture must contain cross-corpus contamination")
    assertSameRows(got, want)
    // the remover is exactly the left-anti over the pair view's train side
    val clean = Dedup.removeExactContaminated(train, ev, "doc_id", "text",
      windowTokens = w).select("doc_id")
    val wantClean = train.select("doc_id").join(
      got.select($"a_id".as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
    assertSameRows(clean, wantClean)
  }

  test("duplicateClusters: distributed sweeps == driver-finish path") {
    import spark.implicits._
    // a 24-node chain with mixed directions plus cliques — deep enough to
    // need several contraction sweeps when driver-finish is disabled
    val chain = (1L until 24L).map(i => if (i % 2 == 0) (i, i + 1) else (i + 1, i))
    val pairs = (chain ++ Seq((100L, 101L), (101L, 102L), (100L, 102L)))
      .toDF("a_id", "b_id")
    val viaDriver = Dedup.duplicateClusters(pairs)
    spark.conf.set("spark.graft.ccDriverFinishLimit", "0")
    try {
      val viaSweeps = Dedup.duplicateClusters(pairs)
      assertSameRows(viaSweeps, viaDriver)
      assert(viaSweeps.where($"cluster_id" =!= 1L && $"id" < 100L).count() == 0)
    } finally spark.conf.unset("spark.graft.ccDriverFinishLimit")
  }

  test("duplicateClusters == driver union-find on real minhash pairs") {
    import spark.implicits._
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.9)
    val edges = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty, "fixture must contain near-dup pairs")
    // driver-side union-find oracle
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.toSeq.map(k => (k, find(k))).toDF("id", "cluster_id")
    assertSameRows(Dedup.duplicateClusters(pairs), want)
  }

  test("keepCanonical keeps one representative per cluster + all unpaired rows") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a_id", "b_id")
    val df = (1L to 12L).toDF("doc_id")
    val got = Dedup.keepCanonical(df, "doc_id", pairs)
    // survivors: cluster minima {1, 10} + untouched {4..9, 12}
    val want = (Seq(1L, 10L) ++ (4L to 9L) :+ 12L).toDF("doc_id")
    assertSameRows(got, want)
  }

  test("keepBest keeps each cluster's max-score member; ties min id") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a_id", "b_id")
    val df = Seq((1L, 10L), (2L, 99L), (3L, 50L), (4L, 1L), (5L, 7L),
      (6L, 7L), (7L, 0L)).toDF("doc_id", "score")
    val got = Dedup.keepBest(df, "doc_id", "score", pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // cluster {1,2,3} -> 2 (max score); {5,6} -> 5 (tie, min id);
    // 4 and 7 unpaired survive
    assert(got == Set(2L, 4L, 5L, 7L))
    // with a CONSTANT score, keepBest degenerates to keepCanonical
    val const = df.withColumn("score", lit(1L))
    assertSameRows(
      Dedup.keepBest(const, "doc_id", "score", pairs).select("doc_id"),
      Dedup.keepCanonical(df.select("doc_id"), "doc_id", pairs))
    // null scores never beat non-null; all-null cluster keeps min id
    val nulled = Seq((1L, Some(10L)), (2L, None), (3L, Some(10L)),
      (5L, None), (6L, None)).toDF("doc_id", "score")
    val gotNull = Dedup.keepBest(nulled, "doc_id", "score", pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // {1,2,3}: max non-null 10 ties on 1,3 -> 1; {5,6}: all null -> 5
    assert(gotNull == Set(1L, 5L))
    // scale property (r7 verdict #1): survivor selection must be
    // window-free — a mega-cluster partial-aggregates, never sorts in
    // one window task
    val plan = Dedup.keepBest(df, "doc_id", "score", pairs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"keepBest must not rank survivors with a window:\n${plan.take(800)}")
  }

  test("keepBest mega-cluster differential: one cluster >> task size") {
    import spark.implicits._
    // one transitive chain of 50k rows — with the old row_number
    // formulation this sorts in ONE window task; with aggregates each
    // map task partial-combines. Winner = max score (id 49_999 scores
    // highest), everything else in the chain drops.
    val n = 50000L
    val pairs = spark.range(n - 1)
      .select(col("id").as("a_id"), (col("id") + 1).as("b_id"))
    val df = spark.range(n).select(col("id").as("doc_id"),
      col("id").as("score"))
      .union(Seq((1000000L, -1L)).toDF("doc_id", "score")) // unpaired row
    val got = Dedup.keepBest(df, "doc_id", "score", pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(n - 1, 1000000L))
  }

  test("repetition HOF metrics equal an explode-based reference") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "a b a\na b a\nc d"),          // duplicate line + repeated token
      (2L, "x y z"),                       // single line, no repeats
      (3L, "p\np\np\nq q q q")             // heavy line + token repetition
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetition(fixture, "doc_id", "text")
    // explode-based reference: group lines / tokens per doc
    val lines = fixture.select($"doc_id", explode(split($"text", "\n")).as("l"))
    val lineStats = lines.groupBy("doc_id", "l")
      .agg(count(lit(1)).as("c"), length(first($"l")).as("len"))
      .groupBy("doc_id").agg(
        sum($"c").cast("long").as("n_lines"),
        count(lit(1)).cast("long").as("n_distinct"),
        sum(($"c" - 1) * $"len").cast("long").as("dup_chars"),
        sum($"c" * $"len").cast("long").as("total_chars"))
    val toks = fixture.select($"doc_id",
      explode(split(lower($"text"), " ")).as("t"))
    val tokStats = toks.groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        max($"c").cast("long").as("top_token_count"),
        sum($"c").cast("long").as("n_tokens"))
    val want = lineStats.join(tokStats, "doc_id").select(
      $"doc_id",
      $"n_lines",
      ($"n_lines" - $"n_distinct").as("n_dup_lines"),
      (($"n_lines" - $"n_distinct").cast("double") / $"n_lines".cast("double"))
        .as("dup_line_ratio"),
      ($"dup_chars".cast("double") /
        greatest($"total_chars", lit(1L)).cast("double"))
        .as("dup_line_char_ratio"),
      $"top_token_count",
      ($"top_token_count".cast("double") / $"n_tokens".cast("double"))
        .as("top_token_ratio"))
    assertSameRows(got, want)
    // shuffle-free claim: one scan, no exchange in the plan
    val plan = TextAnalysis.repetition(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"repetition must be a per-row scan:\n${plan.take(600)}")
  }

  test("embeddingPairs(ivf) ⊆ brute pairs; keepFirst drops exactly the b_ids") {
    import spark.implicits._
    val ivf = Dedup.embeddingPairs(emb, "vec_id", "embedding", 0.4)
    val brute = Dedup.embeddingPairs(emb, "vec_id", "embedding", 0.4, "brute")
    assert(ivf.count() > 0)
    assert(ivf.exceptAll(brute).count() == 0, "ivf pairs must be a subset of brute")

    val survivors = Dedup.keepFirst(emb.select("vec_id", "label"), "vec_id", ivf)
    val dropped = ivf.select($"b_id".as("vec_id")).distinct()
    assert(survivors.count() + dropped.count() == emb.count())
    assert(survivors.join(dropped, Seq("vec_id")).count() == 0)
    // chain semantics: a~b, b~c (a<b<c) drops BOTH b and c
    val chain = Seq((1L, 2L), (2L, 3L)).toDF("a_id", "b_id")
    val rows = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("vec_id", "v")
    assert(Dedup.keepFirst(rows, "vec_id", chain)
      .select("vec_id").as[Long].collect().toSet == Set(1L))
  }

  test("brute-force similarity guard trips past the row limit, names the scale path") {
    spark.conf.set("spark.graft.bruteForceRowLimit", "3")
    try {
      val e1 = intercept[IllegalArgumentException] {
        Similarity.cosinePairs(emb, "vec_id", "embedding", threshold = 0.9)
      }
      assert(e1.getMessage.contains("ivfCosinePairs"))
      val e2 = intercept[IllegalArgumentException] {
        Similarity.topK(emb, emb.limit(1), "vec_id", "embedding", k = 3)
      }
      assert(e2.getMessage.contains("ivfTopK"))
      // 0 disables the guard entirely
      spark.conf.set("spark.graft.bruteForceRowLimit", "0")
      assert(Similarity.topK(emb, emb.where(col("vec_id") < 2),
        "vec_id", "embedding", k = 3).count() > 0)
    } finally spark.conf.unset("spark.graft.bruteForceRowLimit")
  }

  test("topK is ordered, bounded and excludes self") {
    val topk = Similarity.topK(emb, emb.where(col("vec_id") < 5),
      "vec_id", "embedding", k = 3).collect()
    assert(topk.length == 15)
    assert(topk.forall(r => r.getLong(0) != r.getLong(1)))
    assert(topk.groupBy(_.getLong(0)).values.forall(_.map(_.getInt(2)).sorted.toSeq == Seq(1, 2, 3)))
  }

  test("ivfTopK: bounded, self-free, deterministic, results score-ordered") {
    val queries = emb.where(col("vec_id") < 8)
    val got = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.nonEmpty)
    assert(got.forall { case (q, n, r) => q != n && r >= 1 && r <= 4 })
    // per query: ranks are 1..m with no gaps
    got.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._3).sorted.toSeq == (1 to rs.length))
    }
    // deterministic across invocations (fixed quantizer, fixed tiebreaks)
    val again = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.toSet == again.toSet)
    // every returned neighbor must also appear in the brute-force top-8
    // ranking no earlier than its IVF rank says (IVF only DROPS candidates,
    // so the exact ranks of survivors can only improve brute-force position)
    val brute = Similarity.topK(emb, queries, "vec_id", "embedding", k = 8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    val hits = got.count { case (q, n, _) => brute.contains((q, n)) }
    assert(hits.toDouble / got.length > 0.5,
      s"IVF recall vs brute top-8 too low: $hits/${got.length}")
  }

  test("chunkFixed: windows reconstruct the document, count is ceil-exact") {
    import spark.implicits._
    val size = 120; val stride = 90
    val chunks = TextAnalysis.chunkFixed(docs, "doc_id", "text", size, stride)
      .as[(Long, Int, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    val texts = docs.select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(chunks.keySet == texts.keySet)
    texts.foreach { case (id, t) =>
      val cs = chunks(id)
      val expectN = math.max((t.length - 1) / stride, 0) + 1
      assert(cs.length == expectN, s"doc $id: ${cs.length} chunks, want $expectN")
      cs.zipWithIndex.foreach { case (c, i) =>
        assert(c == t.slice(i * stride, i * stride + size), s"doc $id chunk $i")
      }
      // stride-prefixes + final chunk reconstruct the document
      val rebuilt = cs.dropRight(1).map(_.take(stride)).mkString + cs.last
      assert(rebuilt == t, s"doc $id does not reconstruct")
    }
  }

  test("topKPerGroup: k best per group, deterministic on ties") {
    import spark.implicits._
    val scored = docs.select(col("doc_id"), col("lang"),
      length(col("text")).cast("long").as("score"))
    val got = Sampling.topKPerGroup(scored, Seq("lang"), "score", 7, "doc_id")
      .as[(Long, String, Long)].collect()
    val all = scored.as[(Long, String, Long)].collect()
    val want = all.groupBy(_._2).toSeq.flatMap { case (_, rows) =>
      rows.sortBy(r => (-r._3, r._1)).take(7).toSeq
    }.toSet
    assert(got.toSet == want)
    assert(got.groupBy(_._2).forall(_._2.length <= 7))
  }

  test("topKPerGroup: skewed hot group equals single-window formulation") {
    import spark.implicits._
    // one group with 50k rows + many small groups; exercised across salt
    // bucket counts including 1 (degenerates to the plain window)
    val hot = (1 to 50000).map(i => ("hot", i.toLong, (i % 997).toLong))
    val cold = (1 to 900).map(i => (s"g${i % 30}", 100000L + i, i.toLong))
    val df = (hot ++ cold).toDF("g", "id", "score")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(col("score").desc, col("id"))
    val want = df.withColumn("rk", row_number().over(w))
      .where(col("rk") <= 5).drop("rk")
    for (b <- Seq(1, 8, 64)) {
      val got = Sampling.topKPerGroup(df, Seq("g"), "score", 5, "id", saltBuckets = b)
      assertSameRows(got, want)
    }
  }

  test("hashSplit partitions the corpus and is stable under growth") {
    import spark.implicits._
    val split = Sampling.hashSplit(docs, "doc_id", Seq(0.8, 0.1, 0.1))
    assert(split.where($"split_id".isNull).count() == 0)
    val byId = split.select("doc_id", "split_id")
      .as[(Long, Int)].collect().toMap
    assert(byId.size == docs.count())
    // growth stability: splitting only half the corpus assigns each row
    // the SAME split as the full corpus did
    val half = Sampling.hashSplit(docs.where($"doc_id" % 2 === 0), "doc_id",
        Seq(0.8, 0.1, 0.1))
      .select("doc_id", "split_id").as[(Long, Int)].collect()
    half.foreach { case (id, sp) => assert(byId(id) == sp, s"doc $id moved splits") }
    // held-out mass: fractions below 1 leave null split ids
    val held = Sampling.hashSplit(docs, "doc_id", Seq(0.5))
    assert(held.where($"split_id".isNull).count() > 0)
  }

  test("hash sample is deterministic, partition-invariant and near the rate") {
    import graft.operators.Sampling
    val s1 = Sampling.hashSample(docs, "doc_id", 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val s2 = Sampling.hashSample(docs.repartition(17), "doc_id", 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s1 == s2, "sample must not depend on partitioning")
    val rate = s1.size.toDouble / docs.count()
    assert(rate > 0.15 && rate < 0.45, s"rate $rate far from 0.3")
    // monotone: a smaller fraction selects a subset
    val s3 = Sampling.hashSample(docs, "doc_id", 0.1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s3.subsetOf(s1))
  }

  test("repeatByWeight: copy counts match floor/frac semantics, deterministic") {
    val s = spark
    import s.implicits._
    val wt = when($"lang" === "en", 2.5).when($"lang" === "de", 1.0).otherwise(0.5)
    val rep = Sampling.repeatByWeight(docs.select("doc_id", "lang"), "doc_id", wt)
    val counts = rep.groupBy("doc_id", "lang").agg(count(lit(1)).as("n"))
    // integral weight: exactly 1 copy each, copy_ix = 1
    assert(counts.where($"lang" === "de" && $"n" =!= 1).count() == 0)
    // en: 2 or 3 copies; ~half draw the third
    assert(counts.where($"lang" === "en" && ($"n" < 2 || $"n" > 3)).count() == 0)
    val en = counts.where($"lang" === "en")
    val enFrac = en.where($"n" === 3).count().toDouble /
      math.max(en.count(), 1L)
    assert(enFrac > 0.25 && enFrac < 0.75, s"extra-copy rate $enFrac far from 0.5")
    // sub-1 weight: 0 or 1 copy — deterministic downsample
    val rest = docs.where($"lang" =!= "en" && $"lang" =!= "de").count()
    val restKept = counts.where($"lang" =!= "en" && $"lang" =!= "de").count()
    assert(restKept < rest && restKept > 0)
    // copy indexes are dense 1..n
    assert(rep.groupBy("doc_id").agg(max("copy_ix").as("mx"), count(lit(1)).as("n"))
      .where($"mx" =!= $"n").count() == 0)
    // partition-invariant
    val a = rep.select("doc_id", "copy_ix").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Sampling.repeatByWeight(docs.repartition(17).select("doc_id", "lang"),
      "doc_id", wt).select("doc_id", "copy_ix")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
  }

  test("shardAssign: dense 1-based positions per shard, hash-ordered, stable") {
    val s = spark
    import s.implicits._
    val got = Sampling.shardAssign(docs.select("doc_id"), "doc_id", 8)
    // every row present once; shards within range
    assert(got.count() == docs.count())
    assert(got.where($"shard_ix" < 0 || $"shard_ix" >= 8).count() == 0)
    // positions are dense 1..size(shard)
    val dense = got.groupBy("shard_ix")
      .agg(count(lit(1)).as("n"), min("shard_pos").as("mn"), max("shard_pos").as("mx"))
    assert(dense.where($"mn" =!= 1L || $"mx" =!= $"n").count() == 0)
    // order within shard follows the hash key then id
    val k = Sampling.sampleKey($"doc_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"shard_ix").orderBy(k, $"doc_id")
    val want = got.select("doc_id", "shard_ix")
      .withColumn("shard_pos", row_number().over(w).cast("long"))
    assertSameRows(got.select("doc_id", "shard_ix", "shard_pos"), want)
    // custom shard expression is honored
    val custom = Sampling.shardAssign(docs.select("doc_id"), "doc_id", 4,
      shardBy = Some(pmod($"doc_id", lit(4L))))
    assert(custom.where($"shard_ix" =!= pmod($"doc_id", lit(4L))).count() == 0)
  }

  test("packByTokenBudget: chunks respect the budget and equal the single-window reference") {
    import graft.operators.Sampling
    val toks = docs.select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("n_tok"))
    val got = Sampling.packByTokenBudget(toks, "doc_id", "n_tok", budget = 3000,
      numPartitions = 7)
    // reference: naive global window cumsum (fine at test scale)
    val w = org.apache.spark.sql.expressions.Window.orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val want = toks.withColumn("chunk_id",
      floor(coalesce(sum(col("n_tok")).over(w), lit(0L)) / lit(3000L)))
    assertSameRows(got.select("doc_id", "chunk_id"), want.select("doc_id", "chunk_id"))
    // chunk ids are contiguous from 0
    val ids = got.select("chunk_id").distinct().collect().map(_.getLong(0)).sorted
    assert(ids.head == 0L && ids.sameElements(ids.head to ids.last))
  }

  test("takeByTokenBudget: best-first cut equals single-window reference; crossing doc included") {
    import graft.operators.Sampling
    val scored = docs.select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("n_tok"),
      (length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("double") /
        length(col("text")).cast("double")).as("score"))
    val budget = 5000L
    val got = Sampling.takeByTokenBudget(scored, "doc_id", "n_tok", "score",
      budget, numPartitions = 7)
    // reference: naive global window cumsum (fine at test scale)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc_nulls_last, col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val want = scored.withColumn("__cum",
      coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .where(col("__cum") < budget).drop("__cum")
    assertSameRows(got.select("doc_id"), want.select("doc_id"))
    // kept tokens reach the budget: total >= budget (the crossing doc is
    // included), and total minus ANY kept doc's tokens stays under it
    val kept = got.agg(sum("n_tok"), max("n_tok")).first()
    val (total, biggest) = (kept.getLong(0), kept.getLong(1))
    assert(total >= budget, s"cut stopped short: $total < $budget")
    // exclusive-prefix semantics: removing the crossing doc goes below
    val worstKeptScore = got.agg(min("score")).first().getDouble(0)
    val crossing = got.where(col("score") === worstKeptScore)
      .orderBy(col("doc_id").desc).select("n_tok").first().getLong(0)
    assert(total - crossing < budget)
    // different partitioning, same survivors
    val got3 = Sampling.takeByTokenBudget(
      scored.repartition(13), "doc_id", "n_tok", "score", budget,
      numPartitions = 3)
    assertSameRows(got3.select("doc_id"), want.select("doc_id"))
  }

  test("language id is deterministic and covers the marker langs") {
    val langs = docs.select(TextAnalysis.langId(col("text")).as("l"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(langs.subsetOf(Set("en", "es", "de", "fr", "und")))
  }

  test("scriptSignals: dominant script per writing system; ratios; edge docs") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "hello latin world"),
      (2L, "привет мир из москвы"),          // Cyrillic
      (3L, "你好世界这是中文"),                 // Han
      (4L, "مرحبا بالعالم"),                  // Arabic
      (5L, "abcd пока"),                      // 4 latin vs 4 cyrillic tie
      (6L, "1234 5678"),                      // digits only -> other
      (7L, "")                                // empty -> other, null ratios
    ).toDF("doc_id", "text")
    val got = TextAnalysis.scriptSignals(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getAs[String]("script") == "latin")
    assert(got(2L).getAs[String]("script") == "cyrillic")
    assert(got(3L).getAs[String]("script") == "cjk")
    assert(got(4L).getAs[String]("script") == "arabic")
    assert(got(5L).getAs[String]("script") == "latin") // tie -> declaration order
    assert(got(6L).getAs[String]("script") == "other")
    assert(got(7L).getAs[String]("script") == "other")
    assert(got(7L).isNullAt(got(7L).fieldIndex("latin_ratio")))
    // exact ratio arithmetic on a known row: "你好世界这是中文" = 8 Han chars
    assert(got(3L).getAs[Long]("n_chars") == 8L &&
      got(3L).getAs[Double]("cjk_ratio") == 1.0)
    val r6 = got(6L)
    assert(r6.getAs[Double]("digit_ratio") == math.rint(8.0 / 9.0 * 1e6) / 1e6)
  }

  test("canonicalUrl: tracking params, fragments, case, seams, root slash") {
    val s = spark
    import s.implicits._
    val cases = Seq(
      // leading tracking param: '?utm' removed, next param promoted to '?'
      ("https://WWW.Ex.COM/Path?utm_source=a&id=7&utm_medium=b#frag",
        "https://www.ex.com/Path?id=7"),
      // only tracking params -> whole query gone
      ("http://a.Com/p?fbclid=x&gclid=y", "http://a.com/p"),
      // root slash collapses; host lowercased
      ("http://CDN.Example.ORG/?igshid=z", "http://cdn.example.org"),
      // clean URL passes through except host case; path case preserved
      ("https://Ex.com/CaseSensitive/Path?a=1&b=2",
        "https://ex.com/CaseSensitive/Path?a=1&b=2"),
      // fragment alone
      ("https://ex.com/p#sec-2", "https://ex.com/p"),
      // deep path trailing slash NOT stripped (only bare root)
      ("https://ex.com/a/b/", "https://ex.com/a/b/"),
      // tracking param mid-query between real params
      ("https://ex.com/p?a=1&utm_campaign=c&b=2", "https://ex.com/p?a=1&b=2"))
    val got = cases.map(_._1).toDF("url")
      .select(col("url"), TextAnalysis.canonicalUrl(col("url")).as("c"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (in, want) =>
      assert(got(in) == want, s"canonicalUrl($in) = ${got(in)}, want $want")
    }
  }

  test("domainSuffixes: bounded suffix chains down to the 2-label parent") {
    val s = spark
    import s.implicits._
    val got = Seq("a.b.example.com", "example.com", "localhost")
      .toDF("d")
      .select(col("d"), TextAnalysis.domainSuffixes(col("d")).as("s"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(got("a.b.example.com") ==
      Seq("a.b.example.com", "b.example.com", "example.com"))
    assert(got("example.com") == Seq("example.com"))
    assert(got("localhost") == Seq("localhost"))
  }

  test("blocklistFilter: subdomains fall, literal and join paths agree") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "see https://x.bad.com/p ok"),       // subdomain of blocked
      (2L, "see https://bad.com ok"),            // exact blocked
      (3L, "see https://notbad.com/p ok"),       // suffix of name, NOT dot-suffix
      (4L, "see https://good.org/p ok"),         // clean
      (5L, "no url here"),                       // no URL -> kept
      (6L, null.asInstanceOf[String]))           // null text -> kept
      .toDF("doc_id", "text")
    val block = Seq("bad.com", "ads.example.org").toDF("domain")
    def ids(d: org.apache.spark.sql.DataFrame) =
      d.select("doc_id").collect().map(_.getLong(0)).toSet
    val lit = ids(TextAnalysis.blocklistFilter(df, "doc_id", "text", block))
    val join = ids(TextAnalysis.blocklistFilter(df, "doc_id", "text", block,
      maxLiteralDomains = 0))
    assert(lit == Set(3L, 4L, 5L, 6L), s"got $lit")
    assert(join == lit, "literal and join paths must agree")
  }

  test("mixCorporaTemperature: smallest source keeps all; head sheds with alpha") {
    val docsDf = docs.select(col("doc_id"), col("lang"), col("text"))
    def keptBySource(alpha: Double): Map[String, Long] =
      Sampling.mixCorporaTemperature(docsDf, "lang", "doc_id",
        TextAnalysis.tokenCount(col("text")),
        Seq("en", "de", "es", "fr", "zh"), alpha)
        .groupBy("lang").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rows = docsDf.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val toks = docsDf.groupBy("lang")
      .agg(sum(TextAnalysis.tokenCount(col("text"))).as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val k05 = keptBySource(0.5)
    val k02 = keptBySource(0.2)
    // the lowest-TOKEN source's rate is exactly 1 -> every row survives
    val smallest = Seq("en", "de", "es", "fr", "zh").minBy(toks)
    assert(k05(smallest) == rows(smallest))
    // the head source sheds more as alpha drops toward uniform
    val head = Seq("en", "de", "es", "fr", "zh").maxBy(toks)
    assert(k02.getOrElse(head, 0L) < k05(head))
    assert(k05(head) < rows(head))
    // alpha bounds enforced
    intercept[IllegalArgumentException] {
      Sampling.mixCorporaTemperature(docsDf, "lang", "doc_id",
        TextAnalysis.tokenCount(col("text")), Seq("en"), 1.5)
    }
  }

  test("quality ratios are single divisions of exact counts") {
    val q = TextAnalysis.quality(docs, "doc_id", "text")
    val row = q.where(col("n_tokens") > 0).first()
    val alpha = row.getAs[Long]("n_alpha").toDouble / row.getAs[Long]("n_chars_m").toDouble
    assert(row.getAs[Double]("alpha_ratio") == alpha)
  }

  test("multimodal decodeBatch emits metadata struct per row") {
    val bin = docs.select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    val dec = Multimodal.decodeBatch(bin, "payload")
    val r = dec.select("decoded.byte_len", "decoded.width", "decoded.channels",
      "decoded.fmt").first()
    assert(r.getLong(0) > 0 && r.getInt(1) >= 128 && r.getInt(2) == 3)
    assert(r.getString(3) == "unknown") // raw text is no known container
    assert(dec.count() == docs.count())
  }

  test("image header parse: PNG, JPEG, GIF, and corrupt payloads") {
    import graft.functions.ImageHeaders
    def hexBytes(s: String): Array[Byte] =
      s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    // 640x480 RGBA PNG header (colortype 6 → 4 channels)
    val png = hexBytes("89504E470D0A1A0A0000000D49484452" +
      "00000280" + "000001E0" + "0806000000DEADBEEF" + "00")
    assert(Multimodal.decodeImage(png) == (34L, "png", 640, 480, 4))
    // JPEG with APP0 + COM segment before SOF0: 31x77, 3 components
    val jpg = hexBytes("FFD8" + "FFE000104A46494600010100000100010000" +
      "FFFE0004ABCD" + // COM segment (marker walk must skip it)
      "FFC0001108" + "004D" + "001F" + "03011100021101031101" + "FFD9")
    assert(Multimodal.decodeImage(jpg) == (jpg.length.toLong, "jpeg", 31, 77, 3))
    // GIF89a 320x200 (dimensions little-endian)
    val gif = hexBytes("474946383961" + "4001" + "C800" + "F70000")
    assert(Multimodal.decodeImage(gif) == (13L, "gif", 320, 200, 3))
    // corrupt: PNG signature but truncated before IHDR → stub fallback
    val bad = hexBytes("89504E470D0A1A0A00000002")
    assert(Multimodal.decodeImage(bad)._2 == "unknown")
    // the codegen'd column expression agrees with the JVM-side parse
    val s = spark
    import s.implicits._
    val df = Seq(("png", png), ("jpg", jpg), ("gif", gif), ("bad", bad))
      .toDF("tag", "payload")
      .select(col("tag"), Multimodal.imageMeta(col("payload")).as("m"))
      .select(col("tag"), col("m.fmt"), col("m.width"), col("m.height"), col("m.channels"))
    val got = df.collect().map(r =>
      r.getString(0) -> ((r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4)))).toMap
    assert(got("png") == (("png", 640, 480, 4)))
    assert(got("jpg") == (("jpeg", 31, 77, 3)))
    assert(got("gif") == (("gif", 320, 200, 3)))
    assert(got("bad")._1 == "unknown")
  }

  test("BPE greedy segmentation: longest match wins, char fallback, handwritten cases") {
    import graft.functions.BpeVocab
    val v = new BpeVocab(SparkEntry.BpeFixtureVocab.toArray)
    assert(v.segmentWord("the") == Seq("the"))        // "the" beats "th"
    assert(v.segmentWord("than") == Seq("th", "an"))
    assert(v.segmentWord("nation") == Seq("n", "at", "ion")) // fallback 'n'
    assert(v.segmentWord("formation") == Seq("for", "m", "at", "ion"))
    assert(v.segmentWord("xyz") == Seq("x", "y", "z")) // all-fallback
    import org.apache.spark.unsafe.types.UTF8String
    assert(v.countText(UTF8String.fromString("the nation")) == 4L)
    assert(v.countText(UTF8String.fromString("  the  ")) == 1L) // space runs
    assert(v.countText(UTF8String.fromString("")) == 0L)
  }

  test("BPE expression == independent JVM reimplementation on the corpus") {
    val s = spark
    import s.implicits._
    val vocabSet = SparkEntry.BpeFixtureVocab.toSet
    val maxLen = SparkEntry.BpeFixtureVocab.map(_.length).max
    // independent greedy reimplementation (recursion instead of cursors)
    def segCount(word: String): Long =
      if (word.isEmpty) 0L
      else {
        val m = (math.min(maxLen, word.length) to 1 by -1)
          .find(l => vocabSet.contains(word.take(l))).getOrElse(1)
        1L + segCount(word.drop(m))
      }
    val got = docs.select($"doc_id",
      graft.functions.Bpe.segmentCount(s, SparkEntry.BpeFixtureVocab)(
        lower($"text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = docs.select($"doc_id", lower($"text")).collect().map { r =>
      r.getLong(0) ->
        r.getString(1).split(" ", -1).filter(_.nonEmpty).map(segCount).sum
    }.toMap
    assert(got == want)
    // with a letters-only vocab no segment crosses a letter/punct boundary,
    // so real counts dominate the pre-tokenizer lower bound on this corpus
    val lb = docs.select($"doc_id",
      TextAnalysis.bpeTokenCount(lower($"text")).as("lb"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viol = got.count { case (id, n) => n < lb(id) }
    assert(viol == 0, s"$viol docs below the pre-tokenizer lower bound")
  }

  test("BPE training: merges learned in frequency order, deterministic ties") {
    import graft.functions.BpeVocab
    // (a,b) pair weight 15 beats (b,c) 5 -> first merge "ab", then "abc"
    val v = BpeVocab.train(Seq(("ab", 10L), ("abc", 5L)), numMerges = 2)
    assert(v.segmentWord("abc") == Seq("abc"))
    assert(v.segmentWord("ab") == Seq("ab"))
    assert(v.segmentWord("cab") == Seq("c", "ab"))
    // trained-from-corpus path: vocabulary() feeds the same trainer, and
    // packByTokenBudget packs on the REAL counts end-to-end
    val s = spark
    import s.implicits._
    val trained = TextAnalysis.trainBpeVocab(docs, "text", numMerges = 50)
    assert(trained.size > 50, "expected chars + 50 merges")
    val bc = s.sparkContext.broadcast(trained)
    val counted = docs.select($"doc_id",
      graft.functions.Bpe.segmentCount(bc)(lower($"text")).as("toks"))
    val packed = Sampling.packByTokenBudget(counted, "doc_id", "toks", budget = 2000L)
    // chunk_id must equal floor(exclusive-prefix-sum / budget) in id order
    val rows = packed.select($"doc_id", $"toks", $"chunk_id")
      .collect().sortBy(_.getLong(0))
    var prefix = 0L
    rows.foreach { r =>
      assert(r.getLong(2) == prefix / 2000L,
        s"doc ${r.getLong(0)}: chunk ${r.getLong(2)} != ${prefix / 2000L}")
      prefix += r.getLong(1)
    }
  }

  test("normalizeText: NFC recomposition, case fold, whitespace squeeze") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      ("decomposed", "Cafe\u0301"),  // e + combining acute, explicit escape
      ("precomposed", "Caf\u00E9"),  // precomposed, explicit escape
      ("messy", "  A \t\n B  "),
      ("plain", "already clean"))
      .toDF("tag", "t")
      .select($"tag", TextAnalysis.normalizeText($"t").as("n"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // canonically-equal inputs converge to identical bytes
    assert(rows("decomposed") == rows("precomposed"))
    assert(rows("decomposed") == "caf\u00E9") // NFC output is precomposed
    assert(rows("messy") == "a b")
    assert(rows("plain") == "already clean")
    // form is validated at construction, not per row
    intercept[IllegalArgumentException] {
      TextAnalysis.normalizeText(lit("x"), form = "NOPE")
    }
  }

  test("wav header parse: chunk walk, odd padding, truncation, non-PCM reject") {
    import graft.functions.AudioHeaders
    def hexBytes(s: String): Array[Byte] =
      s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    def unpack(p: Long) = (((p >> 60) & 0xF).toInt, ((p >> 56) & 0xF).toInt,
      ((p >> 48) & 0xFF).toInt, ((p >> 28) & 0xFFFFF).toInt, p & 0xFFFFFFF)
    // canonical 16-bit stereo 44100 Hz, 1000 samples (dataSize = 4000),
    // with a LIST chunk of ODD size 3 (padded to 4) between fmt and data —
    // the walk must honor RIFF's odd-size padding to stay aligned
    val wav = hexBytes("52494646" + "24100000" + "57415645" +
      "666D7420" + "10000000" + "0100" + "0200" + "44AC0000" + "10B10200" +
      "0400" + "1000" +
      "4C495354" + "03000000" + "414243" + "00" + // LIST, 3 bytes + pad
      "64617461" + "A00F0000")                     // data, 4000 bytes declared
    // `wav` itself ends right after the data-chunk header (declared size,
    // zero sample bytes) — append real sample bytes for the canonical case
    // so the truncation assertion below exercises a genuinely shorter input
    val wavWithSamples = wav ++ Array.fill[Byte](16)(0x11)
    assert(unpack(AudioHeaders.packedWavMeta(wavWithSamples)) ==
      ((1, 2, 16, 44100, 1000L)),
      s"got ${unpack(AudioHeaders.packedWavMeta(wavWithSamples))}")
    // truncated after the data chunk HEADER (no sample bytes): still parses
    assert(unpack(AudioHeaders.packedWavMeta(wav))._5 == 1000L)
    // non-PCM (audioFormat 3 = IEEE float) rejected
    val f32 = wav.clone(); f32(20) = 3
    assert(AudioHeaders.packedWavMeta(f32) == 0L)
    // truncated INSIDE the fmt chunk → reject, no partial garbage
    assert(AudioHeaders.packedWavMeta(wav.take(30)) == 0L)
    // not RIFF at all
    assert(AudioHeaders.packedWavMeta("hello world".getBytes) == 0L)
    // the codegen'd column expression agrees with the JVM-side parse
    val s = spark
    import s.implicits._
    val row = Seq(("a", wav)).toDF("tag", "payload")
      .select(Multimodal.audioMeta(col("payload")).as("m"))
      .select("m.fmt", "m.channels", "m.bits", "m.sample_rate",
        "m.n_samples", "m.duration_ms").first()
    assert((row.getString(0), row.getInt(1), row.getInt(2), row.getInt(3),
      row.getLong(4), row.getLong(5)) == (("wav", 2, 16, 44100, 1000L, 22L)))
  }

  test("multimodal frame sampling yields n frames per payload") {
    val bin = docs.limit(10).select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    val frames = Multimodal.sampleFrames(bin, "doc_id", "payload", n = 4)
    assert(frames.count() == 40)
    assert(frames.groupBy("doc_id").count().select(max("count")).first().getLong(0) == 4)
  }

  test("stripBoilerplate: cross-doc lines strip, order/short/within-doc kept") {
    val s = spark
    import s.implicits._
    val fixture = Seq(
      (1L, "HEADER\nunique one\nx\nFOOTER"),
      (2L, "HEADER\nunique two\nrepeat\nrepeat\nFOOTER"),
      (3L, "HEADER\nFOOTER"), // fully boilerplate → empty
      (4L, "all alone here")  // no boilerplate at all → untouched
    ).toDF("doc_id", "page")
    val got = Dedup.stripBoilerplate(fixture, "doc_id", "page",
        minDocs = 2, minLineChars = 2)
      .select("doc_id", "text_clean").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // HEADER/FOOTER in 3 docs → stripped; "x" is short → always kept;
    // "repeat" duplicates only WITHIN doc 2 (distinct-doc count 1) → kept,
    // twice, in order; doc 3 loses every line → empty string
    assert(got(1L) == "unique one\nx")
    assert(got(2L) == "unique two\nrepeat\nrepeat")
    assert(got(3L) == "")
    assert(got(4L) == "all alone here")
  }

  test("stripBoilerplate == explode/reassemble reference on synthesized corpus") {
    val s = spark
    import s.implicits._
    // multi-line pages over the real corpus: shared header, per-lang
    // footer, raw body (duplicated bodies become boilerplate too)
    val pages = docs.select($"doc_id",
      concat(lit("shared header\n"), $"text", lit("\nfooter "), $"lang")
        .as("page"))
    val minDocs = 2L
    val lines = split($"page", "\n")
    val ex = pages.select($"doc_id", posexplode(lines).as(Seq("pos", "line")))
    val boiler = ex.where(length($"line") >= 1)
      .groupBy("line").agg(countDistinct($"doc_id").as("d"))
      .where($"d" >= minDocs).select("line")
    val want = pages.select($"doc_id").join(
      ex.join(boiler, Seq("line"), "left_anti")
        .groupBy("doc_id")
        .agg(array_join(transform(array_sort(collect_list(
          struct($"pos", $"line"))), x => x("line")), "\n").as("clean")),
      Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"clean", lit("")).as("text_clean"))
    val got = Dedup.stripBoilerplate(pages, "doc_id", "page")
      .select("doc_id", "text_clean")
    assertSameRows(got, want)
  }

  test("vocabulary: unigram/bigram counts, minCount and deterministic top cut") {
    val s = spark
    import s.implicits._
    val fixture = Seq(
      (1L, "a b a"),
      (2L, "b c"),
      (3L, "A b")   // lowercased → a b
    ).toDF("doc_id", "text")
    val uni = TextAnalysis.vocabulary(fixture, "text").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(uni == Map("a" -> 3L, "b" -> 3L, "c" -> 1L))
    // top cut: ties on count break by gram asc → ["a","b"], never ["b","a"]
    val top2 = TextAnalysis.vocabulary(fixture, "text", top = 2)
      .orderBy($"n".desc, $"gram").collect().map(_.getString(0)).toSeq
    assert(top2 == Seq("a", "b"))
    val bi = TextAnalysis.vocabulary(fixture, "text", n = 2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bi == Map("a b" -> 2L, "b a" -> 1L, "b c" -> 1L))
    // minCount drops the singleton tail
    assert(TextAnalysis.vocabulary(fixture, "text", n = 2, minCount = 2)
      .collect().map(r => r.getString(0)).toSeq == Seq("a b"))
    // docs shorter than n contribute nothing (and no phantom grams)
    val short = Seq((1L, "solo")).toDF("doc_id", "text")
    assert(TextAnalysis.vocabulary(short, "text", n = 2).count() == 0)
  }

  test("vocabulary == explode reference over the corpus") {
    val s = spark
    import s.implicits._
    val got = TextAnalysis.vocabulary(docs, "text", n = 3, minCount = 2)
    val toks = split(lower($"text"), " ")
    val want = docs.where(size(toks) >= 3)
      .select(explode(transform(sequence(lit(0), size(toks) - 3),
        i => concat_ws(" ", slice(toks, i + 1, lit(3))))).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("n"))
      .where($"n" >= 2)
    assertSameRows(got, want)
  }

  // ---- round 6: paragraph dedup / span decontamination / weighted sample

  test("dedupParagraphs: first (doc, pos) occurrence survives, empties untouched") {
    val s = spark
    import s.implicits._
    val fixture = Seq(
      (1L, "intro\nbody one\nintro"),        // self-dup: second intro cut
      (2L, "intro\nbody two"),               // intro already owned by doc 1
      (3L, "\nbody three\n"),                // empty paragraphs pass through
      (4L, "body one\nbody one")             // owned by doc 1; both copies cut
    ).toDF("doc_id", "page")
    val got = Dedup.dedupParagraphs(fixture, "doc_id", "page")
      .select("doc_id", "text_clean", "n_removed")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got(1L) == (("intro\nbody one", 1L)))
    assert(got(2L) == (("body two", 1L)))
    assert(got(3L) == (("\nbody three\n", 0L)))
    assert(got(4L) == (("", 2L)))
  }

  test("dedupParagraphs == window-rank reference on synthesized pages") {
    val s = spark
    import s.implicits._
    val pages = docs.select($"doc_id",
      concat(lit("shared intro "), pmod($"doc_id", lit(7)), lit("\n"),
        $"text",
        lit("\nshared outro "), pmod($"doc_id", lit(3))).as("page"))
    // reference: rank occurrences per PARAGRAPH STRING (no hashing) with a
    // window, rebuild every doc from its kept paragraphs
    val ps = split($"page", "\n")
    val occ = pages.select($"doc_id", posexplode(ps).as(Seq("pos", "para")))
      .where(length($"para") >= 1)
    val ranked = occ.withColumn("rn",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy($"para").orderBy($"doc_id", $"pos")))
    val cut = ranked.where($"rn" > 1).select($"doc_id", $"pos")
    val rebuilt = pages.select($"doc_id", posexplode(ps).as(Seq("pos", "para")))
      .join(cut, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(array_join(transform(array_sort(collect_list(struct($"pos", $"para"))),
        x => x("para")), "\n").as("text_clean"))
    val want = pages
      .join(cut.groupBy("doc_id").agg(count(lit(1)).as("n_removed")),
        Seq("doc_id"), "left")
      .join(rebuilt, Seq("doc_id"), "left")
      .select($"doc_id",
        when($"n_removed".isNull, $"page")
          .otherwise(coalesce($"text_clean", lit(""))).as("text_clean"),
        coalesce($"n_removed", lit(0L)).as("n_removed"))
    val got = Dedup.dedupParagraphs(pages, "doc_id", "page")
      .select("doc_id", "text_clean", "n_removed")
    assertSameRows(got, want)
  }

  test("removeContaminatedSpans: eval windows cut from train, clean docs verbatim") {
    val s = spark
    import s.implicits._
    val train = Seq(
      (1L, "keep one two SECRET EVAL ANSWER keep three"), // span cut
      (2L, "all clean text here nothing shared at all"),  // verbatim
      (3L, "secret eval answer")                          // fully contaminated
    ).toDF("doc_id", "text")
    val probe = Seq((100L, "the secret eval answer sheet")).toDF("doc_id", "text")
    val got = Dedup.removeContaminatedSpans(train, probe, "doc_id", "text",
      windowTokens = 3)
      .select("doc_id", "text_clean", "n_removed")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // matching is lowercase; removal applies to original-case tokens
    assert(got(1L) == (("keep one two keep three", 3L)))
    assert(got(2L) == (("all clean text here nothing shared at all", 0L)))
    assert(got(3L) == (("", 3L)))
  }

  test("removeContaminatedSpans == position-grain reference on the corpus") {
    val s = spark
    import s.implicits._
    val w = 10
    val train = docs.where(pmod($"doc_id", lit(5)) =!= 0).select("doc_id", "text")
    val ev = docs.where(pmod($"doc_id", lit(5)) === 0).select("doc_id", "text")
    def wins(d: org.apache.spark.sql.DataFrame) = {
      val lt = split(lower($"text"), " ")
      d.select($"doc_id", posexplode(
        when(size(lt) >= w, transform(sequence(lit(0), size(lt) - w),
          i => xxhash64(concat_ws("\u0001", slice(lt, i + 1, lit(w))))))
          .otherwise(array().cast("array<long>"))).as(Seq("pos", "win")))
    }
    val bad = wins(ev).select("win").distinct()
    val cov = wins(train).join(bad, Seq("win"))
      .select($"doc_id", explode(sequence($"pos", $"pos" + lit(w - 1))).as("p"))
      .distinct()
    val toks = train.select($"doc_id", posexplode(split($"text", " ")).as(Seq("p", "tk")))
    val want = train.select($"doc_id", $"text").join(
        toks.join(cov, Seq("doc_id", "p"), "left_anti")
          .groupBy("doc_id")
          .agg(array_join(transform(array_sort(collect_list(struct($"p", $"tk"))),
            x => x("tk")), " ").as("rebuilt")),
        Seq("doc_id"), "left")
      .join(cov.groupBy("doc_id").agg(count(lit(1)).as("n_removed")),
        Seq("doc_id"), "left")
      .select($"doc_id",
        when($"n_removed".isNull, $"text")
          .otherwise(coalesce($"rebuilt", lit(""))).as("text_clean"),
        coalesce($"n_removed", lit(0L)).as("n_removed"))
    val got = Dedup.removeContaminatedSpans(train, ev, "doc_id", "text",
      windowTokens = w)
      .select("doc_id", "text_clean", "n_removed")
    assertSameRows(got, want)
  }

  test("removeContaminatedSpans: no position-grain explode in the plan") {
    val s = spark
    import s.implicits._
    val train = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    val probe = Seq((9L, "b c d")).toDF("doc_id", "text")
    val got = Dedup.removeContaminatedSpans(train, probe, "doc_id", "text",
      windowTokens = 3)
    got.collect()
    val plan = got.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val badGen = plan.linesIterator.exists(l =>
      l.contains("Generate explode(sequence("))
    assert(!badGen, s"per-position sequence explode in the plan:\n$plan")
  }

  test("weightedSample: matches driver-side A-ES computation exactly") {
    val got = Sampling.weightedSample(docs, "doc_id", "n_chars", k = 100)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // driver-side reference: same md5-prefix uniform, same key formula
    val md = java.security.MessageDigest.getInstance("MD5")
    val want = docs.select("doc_id", "n_chars").collect()
      .map { r =>
        val id = r.getLong(0); val wgt = r.getLong(1)
        val hex = md.synchronized {
          md.reset()
          md.digest(id.toString.getBytes("UTF-8"))
            .take(4).map(b => f"$b%02x").mkString
        }
        val u = (java.lang.Long.parseLong(hex, 16) + 1.0) / 4294967296.0
        (math.pow(u, 1.0 / wgt), id)
      }
      .sortBy { case (k, id) => (-k, id) }.take(100).map(_._2).toSet
    assert(got == want)
  }

  test("assembleChunks: id-ordered join, tallies, chunk budget respected") {
    val s = spark
    import s.implicits._
    val toks = Seq((3L, "c c", 2L), (1L, "a", 1L), (2L, "b b b", 3L),
      (4L, "d d", 2L)).toDF("doc_id", "text", "n_tok")
    val packed = Sampling.packByTokenBudget(toks, "doc_id", "n_tok", budget = 4)
    val got = Sampling.assembleChunks(packed, "doc_id", "text", "n_tok")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // exclusive prefix sums: doc1@0, doc2@1 -> chunk 0; doc3@4, doc4@6 ->
    // chunk 1 (floor(4/4) = floor(6/4) = 1)
    assert(got == Map(
      0L -> (("a\nb b b", 2L, 4L)),
      1L -> (("c c\nd d", 2L, 4L))))
  }

  test("tfidfKeywords: ubiquitous token scores 0, rare token tops, k cuts") {
    val s = spark
    import s.implicits._
    val docs3 = Seq(
      (1L, "common rare rare"),
      (2L, "common shared"),
      (3L, "common shared")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.tfidfKeywords(docs3, "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // "common" in all 3 docs: ln(3/3) = 0 in every doc
    assert(got((1L, "common"))._3 == 0.0)
    // "rare": df=1, tf=2 -> 2*ln(3) tops doc 1
    assert(got((1L, "rare")) == ((2L, 1L,
      BigDecimal(2 * math.log(3.0)).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)))
    // "shared": df=2 -> ln(1.5) in docs 2 and 3
    assert(got((2L, "shared"))._3 == got((3L, "shared"))._3 &&
      got((2L, "shared"))._3 > 0.0)
    // k=2 respected per doc
    assert(got.keys.groupBy(_._1).values.forall(_.size <= 2))
  }

  test("bm25TopK: hand-computed scores, query-term dedup, k cuts, guards") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (1L, "apple banana apple"),
      (2L, "apple cherry"),
      (3L, "banana banana banana cherry")
    ).toDF("doc_id", "text")
    val qs = Seq(
      (10, "apple"),
      (20, "banana cherry"),
      (30, "apple apple") // repeated term counts once
    ).toDF("query_id", "qtext")
    val got = TextAnalysis.bm25TopK(corpus, "doc_id", "text",
        qs, "query_id", "qtext", k = 2)
      .collect().map(r => (r.getInt(0), r.getLong(1)) ->
        (r.getDouble(2), r.getInt(3))).toMap

    // every token has df=2, N=3, avgdl=3 -> idf = ln(1.5/2.5 + 1),
    // computed in the operator's operation order (divide, then + 1)
    val idf = math.log(1.5 / 2.5 + 1.0)
    def tfn(tf: Double, dl: Double): Double =
      tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / 3.0))
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

    // q10 "apple": d1 (tf=2, dl=3) beats d2 (tf=1, dl=2)
    assert(got((10, 1L)) == ((r6(idf * tfn(2, 3)), 1)))
    assert(got((10, 2L)) == ((r6(idf * tfn(1, 2)), 2)))
    // q20 "banana cherry": d3 sums both terms and tops; d2 (cherry,
    // short doc) beats d1 (banana, longer doc); k=2 cuts d1
    assert(got((20, 3L)) == ((r6(idf * (tfn(3, 4) + tfn(1, 4))), 1)))
    assert(got((20, 2L))._2 == 2)
    assert(!got.contains((20, 1L)))
    // in-query repetition is ignored: q30 ranks exactly like q10
    assert(got((30, 1L)) == got((10, 1L)) && got((30, 2L)) == got((10, 2L)))
    // scores non-negative under the Lucene idf variant
    assert(got.values.forall(_._1 >= 0.0))

    // the pruned-scan path (default: query tokens broadcast below the
    // postings exchange) and the relational fallback (maxQueryTerms = 0
    // keeps all postings and joins) must produce identical numbers —
    // differential on the real lake corpus
    val realQ = Seq((1, "slow table scan merge"), (2, "hash join order"))
      .toDF("query_id", "qtext")
    val pruned = TextAnalysis.bm25TopK(docs, "doc_id", "text",
      realQ, "query_id", "qtext", k = 8).collect().toSeq
    val fallback = TextAnalysis.bm25TopK(docs, "doc_id", "text",
      realQ, "query_id", "qtext", k = 8, maxQueryTerms = 0)
      .collect().toSeq
    assert(pruned.nonEmpty && pruned.toSet == fallback.toSet)

    intercept[IllegalArgumentException] {
      TextAnalysis.bm25TopK(corpus, "doc_id", "text", qs, "doc_id", "qtext")
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.bm25TopK(corpus, "rank", "text", qs, "query_id", "qtext")
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.bm25TopK(corpus, "doc_id", "text", qs, "query_id",
        "qtext", k = 0)
    }
  }

  test("compressionRatio: order properties (repetition < prose < noise), " +
      "bounds, null/empty, partitioning-determinism, SQL parity") {
    val s = spark
    import s.implicits._
    val prose = "the quick brown fox jumps over the lazy dog while " +
      "seventeen jugglers practice quietly behind the old stone bridge"
    val repetitive = ("buy now " * 40).trim
    // xorshift noise: no printable-ascii structure for deflate to find
    val noise = {
      var x = 0x9E3779B97F4A7C15L
      (1 to 200).map { _ =>
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        (33 + math.floorMod(x, 94).toInt).toChar
      }.mkString
    }
    val df = Seq((1L, repetitive), (2L, prose), (3L, noise),
      (4L, ""), (5L, null)).toDF("id", "text")
    val got = df.select(col("id"),
        graft.operators.TextAnalysis.compressionRatio(col("text")).as("r"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else java.lang.Double.valueOf(r.getDouble(1))))
      .toMap
    assert(got(4L) == null && got(5L) == null)
    val (rep, pro, noi) =
      (got(1L).doubleValue(), got(2L).doubleValue(), got(3L).doubleValue())
    assert(rep < pro && pro < noi, s"order violated: $rep $pro $noi")
    assert(rep > 0 && rep < 0.3, s"repetition should crush: $rep")
    assert(noi > 0.9, s"noise should not compress: $noi")

    // deterministic under repartitioning (same JDK, same bytes)
    val re = df.repartition(7).select(col("id"),
        graft.operators.TextAnalysis.compressionRatio(col("text")).as("r"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else java.lang.Double.valueOf(r.getDouble(1))))
      .toMap
    assert(re == got)

    // a stronger level compresses at least as well
    val l1 = df.where(col("id") === 2).select(
      graft.operators.TextAnalysis.compressionRatio(col("text"), 1))
      .head().getDouble(0)
    val l9 = df.where(col("id") === 2).select(
      graft.operators.TextAnalysis.compressionRatio(col("text"), 9))
      .head().getDouble(0)
    assert(l9 <= l1)

    // SQL surface computes the identical value
    graft.catalog.GraftFunctions.register(spark)
    df.createOrReplaceTempView("cr_docs")
    val viaSql = spark.sql(
      "SELECT id, graft_compression_ratio(text) AS r FROM cr_docs " +
        "WHERE id = 2").head().getDouble(1)
    assert(viaSql == pro)

    intercept[IllegalArgumentException] {
      graft.operators.TextAnalysis.compressionRatio(col("text"), 0)
    }
  }

  test("rrfFuse: hand-computed fusion, overlap sums, k cut, tie-break, " +
      "guards; plan is bounded by the fused lists") {
    val s = spark
    import s.implicits._
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // retriever A: q1 ranks (10, 11, 12); retriever B: q1 ranks (11, 13)
    val a = Seq((1, 10L, 1), (1, 11L, 2), (1, 12L, 3))
      .toDF("query_id", "doc_id", "rank")
    val b = Seq((1, 11L, 1), (1, 13L, 2))
      .toDF("query_id", "doc_id", "rank")
    val got = TextAnalysis.rrfFuse(Seq(a, b), "query_id", "doc_id", k = 3)
      .collect().map(r => r.getLong(1) -> (r.getDouble(2), r.getInt(3)))
      .toMap
    // 11 appears in both lists and must top: 1/62 + 1/61
    assert(got(11L) == ((r6(1.0 / 62 + 1.0 / 61), 1)))
    assert(got(10L) == ((r6(1.0 / 61), 2)))
    // 12 (rank 3 in A) loses to 13 (rank 2 in B); k=3 cuts 12
    assert(got(13L) == ((r6(1.0 / 62), 3)))
    assert(!got.contains(12L))

    // equal scores tie-break by item id ascending
    val t1 = Seq((1, 5L, 1), (1, 3L, 2)).toDF("query_id", "doc_id", "rank")
    val tied = TextAnalysis.rrfFuse(Seq(t1), "query_id", "doc_id", k = 2)
      .collect().map(r => (r.getLong(1), r.getInt(3)))
    assert(tied.toSeq.sortBy(_._2) == Seq((5L, 1), (3L, 2)))

    // a single-retriever fuse preserves the input order (monotone map)
    val solo = TextAnalysis.rrfFuse(Seq(a), "query_id", "doc_id", k = 3)
      .collect().map(r => (r.getLong(1), r.getInt(3))).toMap
    assert(solo == Map(10L -> 1, 11L -> 2, 12L -> 3))

    intercept[IllegalArgumentException] {
      TextAnalysis.rrfFuse(Seq.empty, "query_id", "doc_id", k = 3)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.rrfFuse(Seq(a), "query_id", "doc_id", k = 0)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.rrfFuse(Seq(a), "doc_id", "doc_id", k = 3)
    }

    // plan shape: the fusion never touches a corpus — no scan relation
    // appears beyond the two localtablescans of the ranked lists
    val plan = TextAnalysis.rrfFuse(Seq(a, b), "query_id", "doc_id", k = 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("FileScan"))
  }

  test("sentenceChunks: boundary split, straddle packing, in-order " +
      "reassembly, oversized sentence lands once") {
    val s = spark
    import s.implicits._
    val prose = Seq(
      // sentences: "One two." (8) / "Three four five!" (16) / "Six?" (4)
      // / "tail" (4); maxChars=20: cum 0,8,24,28 -> chunks 0,0,1,1
      (1L, "One two. Three four five! Six? tail"),
      // a single sentence longer than maxChars still lands exactly once
      (2L, "This sentence is far longer than twenty characters")
    ).toDF("doc_id", "t")
    val got = TextAnalysis.sentenceChunks(prose, "doc_id", "t",
      maxChars = 20).orderBy("doc_id", "chunk_ix").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      (1L, 0, "One two. Three four five!", 2L, 24L),
      (1L, 1, "Six? tail", 2L, 8L),
      (2L, 0, "This sentence is far longer than twenty characters", 1L,
        50L)))
  }

  test("packingStats: fill and overflow arithmetic over a hand fixture") {
    val s = spark
    import s.implicits._
    // budget 10: chunk 0 = rows (1:4, 2:5) = 9 tokens (fits);
    // chunk 1 = rows (3:8, 4:3) = 11 tokens (straddle row 4 overflows)
    val packed = Seq((1L, 4L, 0L), (2L, 5L, 0L), (3L, 8L, 1L),
      (4L, 3L, 1L)).toDF("id", "n_tok", "chunk_id")
    val r = Sampling.packingStats(packed, "chunk_id", "n_tok", 10).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((2L, 4L, 20L)))
    assert(r.getDouble(3) == 1.0)   // 20 / (2 * 10)
    assert(r.getDouble(4) == 0.5)   // 1 of 2 chunks over budget
    // consistency with the real packer on the lake corpus
    val toks = docs.select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("n_tok"))
    val lakeStats = Sampling.packingStats(
      Sampling.packByTokenBudget(toks, "doc_id", "n_tok", budget = 200),
      "chunk_id", "n_tok", budget = 200).head()
    assert(lakeStats.getLong(1) == docs.count())
    assert(lakeStats.getDouble(3) > 0.9,
      "straddle packing keeps fill near 1 by construction")
  }

  test("linear text score: hand-computable fixture, bigrams, null safety") {
    val s = spark
    import s.implicits._
    val w = Map("good" -> 1.0, "bad" -> -2.0, "very good" -> 0.5)
    val df = Seq(
      (1L, "good good bad"),          // 1 + 1 - 2 = 0 (+bias)
      (2L, "Very GOOD"),              // lowercased: good=1, bigram=0.5
      (3L, "nothing matches here"),
      (4L, null.asInstanceOf[String])
    ).toDF("id", "text")
    val got = df.select($"id",
      graft.functions.TextModel.score(s, w, bias = 0.25, useBigrams = true)($"text")
        .as("score"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(math.abs(got(1L).get - 0.25) < 1e-12)
    assert(math.abs(got(2L).get - 1.75) < 1e-12)
    assert(math.abs(got(3L).get - 0.25) < 1e-12)
    assert(got(4L).isEmpty)
  }

  test("trainLogOdds separates a labeled corpus; score orders classes") {
    val s = spark
    import s.implicits._
    val labeled = Seq(
      (1, "clean prose with actual sentences and meaning"),
      (1, "clean prose flows with meaning and structure"),
      (1, "sentences carry meaning and clean structure"),
      (0, "buy buy cheap cheap click click spam"),
      (0, "spam click cheap buy spam click"),
      (0, "cheap spam buy click buy")
    ).toDF("label", "text")
    val (w, bias) = TextAnalysis.trainLogOdds(labeled, "text", "label")
    assert(w("meaning") > 0 && w("clean") > 0)
    assert(w("spam") < 0 && w("click") < 0)
    val bc = spark.sparkContext.broadcast(new graft.functions.LinearTextModel(
      w.keys.toArray, w.keys.toArray.map(w), bias, false))
    val scored = labeled.select($"label",
      graft.functions.TextModel.score(bc)($"text").as("sc"))
      .groupBy("label").agg(avg($"sc").as("m"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(scored(1) > scored(0))
  }

  test("unigram LM perplexity: hand-computed fixture + differential vs driver") {
    val s = spark
    import s.implicits._
    import org.apache.spark.unsafe.types.UTF8String
    // hand-built model: counts {a:3, b:1}, alpha=0.5 -> denom = 4 + 0.5*3
    val lm = new graft.functions.UnigramLm(Array("a", "b"), Array(3L, 1L), 0.5)
    val denom = 4.0 + 0.5 * 3
    assert(lm.logProbOf("a") == math.log(3.5 / denom))
    assert(lm.logProbOf("b") == math.log(1.5 / denom))
    assert(lm.unkLogProb == math.log(0.5 / denom))
    val expAB = math.exp(-(lm.logProbOf("a") + lm.logProbOf("b")) / 2)
    assert(lm.perplexity(UTF8String.fromString("a b")) == expAB)
    assert(lm.perplexity(UTF8String.fromString("A  B")) == expAB) // case+runs
    assert(lm.perplexity(UTF8String.fromString("")) == null)
    assert(lm.perplexity(UTF8String.fromString("  ")) == null)
    // expression path ≡ driver walk, null text -> null, and codegen'd
    val bc = s.sparkContext.broadcast(lm)
    val df = Seq((1L, "a b zz a"), (2L, "zz"), (3L, ""), (4L, null))
      .map { case (i, t) => (i, t) }.toDF("id", "text")
    val scored = df.select($"id",
      graft.functions.NgramLm.perplexity(bc)($"text").as("p"))
    val got = scored.collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    for ((i, t) <- Seq(1L -> "a b zz a", 2L -> "zz")) {
      assert(got(i).get == lm.perplexity(UTF8String.fromString(t)).doubleValue())
    }
    assert(got(3L).isEmpty && got(4L).isEmpty)
    val plan = scored.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("udf"), s"expected UDF-free plan:\n$plan")
    // two perplexity expressions over NON-NULLABLE children in one
    // projection: their generated locals land unbraced in one Java scope,
    // so the names must be fresh per-expression (regression: fixed `ppl`
    // collided under whole-stage codegen)
    val blm = new graft.functions.BigramLm(lm, Array.empty, Array.empty, 0.4)
    val bcB = s.sparkContext.broadcast(blm)
    val multi = spark.range(1).select(
      graft.functions.NgramLm.perplexity(bc)(lit("a b")).as("p1"),
      graft.functions.NgramLm.perplexity(bc)(lit("zz")).as("p2"),
      graft.functions.NgramLm.bigramPerplexity(bcB)(lit("a b")).as("p3"))
      .collect()(0)
    assert(multi.getDouble(0) ==
      lm.perplexity(UTF8String.fromString("a b")).doubleValue())
    assert(multi.getDouble(2) ==
      blm.perplexity(UTF8String.fromString("a b")).doubleValue())
  }

  test("trainUnigramLm: excludes empty tokens, deterministic cut, ranks quality") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      "the quick brown fox  jumps", // double space: empty token excluded
      "the lazy dog sleeps",
      "the quick dog runs"
    ).toDF("text")
    val lm = TextAnalysis.trainUnigramLm(corpus, "text", topN = 4, alpha = 0.5)
    // counts: the=3, quick=2, dog=2, rest=1 -> top-4 cut keeps the, dog,
    // quick, then count-1 grams by gram asc: brown
    assert(lm.grams.toSeq == Seq("the", "dog", "quick", "brown"))
    assert(lm.counts.toSeq == Seq(3L, 2L, 2L, 1L))
    // in-vocab text scores lower perplexity than all-unknown gibberish
    import org.apache.spark.unsafe.types.UTF8String
    val fluent = lm.perplexity(UTF8String.fromString("the quick dog")).doubleValue()
    val junk = lm.perplexity(UTF8String.fromString("xq zv qqj")).doubleValue()
    assert(fluent < junk)
  }

  test("assembleChunks boundaries: offsets index the actual doc starts") {
    val s = spark
    import s.implicits._
    import graft.operators.Sampling
    val docs = Seq((1L, "aa bb", 2L), (2L, "c", 1L), (3L, "dddd ee ff", 3L),
      (4L, "gg", 1L)).toDF("doc_id", "text", "n_tok")
    val packed = Sampling.packByTokenBudget(docs, "doc_id", "n_tok", budget = 3)
    val got = Sampling.assembleChunks(packed, "doc_id", "text", "n_tok",
      withBoundaries = true).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val seq = r.getString(r.fieldIndex("sequence"))
      val starts = r.getString(r.fieldIndex("doc_starts")).split(",").map(_.toLong)
      assert(starts.length == r.getLong(r.fieldIndex("n_docs")))
      assert(starts.head == 0L)
      // each offset is either 0 or sits right after a separator, and the
      // text at that offset is the start of a member doc
      starts.drop(1).foreach { o =>
        assert(seq.charAt(o.toInt - 1) == '\n', s"offset $o in '$seq'")
      }
      // offsets + member lengths reconstruct the sequence length exactly
      val lastDocLen = seq.length - starts.last
      assert(lastDocLen > 0)
    }
    // boundary-less form is unchanged
    val plain = Sampling.assembleChunks(packed, "doc_id", "text", "n_tok")
    assert(!plain.columns.contains("doc_starts"))
  }

  test("dedupLinesInDoc: first occurrence survives, short lines always kept") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "nav bar\ncontent one\nnav bar\ncontent two\nnav bar"),
      (2L, "a\n\nx longer\n\na\nx longer"),   // short 'a'/blank kept, dup cut
      (3L, "only line"),
      (4L, "")
    ).toDF("id", "page")
    val got = df.select($"id",
      TextAnalysis.dedupLinesInDoc($"page").as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "nav bar\ncontent one\ncontent two")
    // 'a' is short (<2) so BOTH copies survive; blanks survive; the
    // repeated 'x longer' loses its second copy
    assert(got(2L) == "a\n\nx longer\n\na")
    assert(got(3L) == "only line")
    assert(got(4L) == "")
    val plan = df.select(TextAnalysis.dedupLinesInDoc($"page"))
      .queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("udf"))
  }

  test("dedupLinesInDoc: maxLines guard passes pathological docs unchanged") {
    val s = spark
    import s.implicits._
    // a doc ONE line over the guard passes through verbatim (repeats and
    // all); at exactly the guard it still dedups
    val over = (0 to 10) .map(i => s"line ${i % 3} repeated").mkString("\n")
    val atCap = (1 to 10).map(i => s"line ${i % 3} repeated").mkString("\n")
    val df = Seq((1L, over), (2L, atCap)).toDF("id", "page")
    val got = df.select($"id",
        TextAnalysis.dedupLinesInDoc($"page", maxLines = 10).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == over, "11 lines > maxLines=10: unchanged")
    assert(got(2L) ==
      "line 1 repeated\nline 2 repeated\nline 0 repeated",
      "10 lines == maxLines: deduped as usual")
    // default guard leaves ordinary pages untouched by the new branch
    val small = Seq((1L, "a b\na b")).toDF("id", "page")
      .select(TextAnalysis.dedupLinesInDoc($"page").as("t"))
      .collect().head.getString(0)
    assert(small == "a b")
  }

  test("stripHtml: scripts/styles/comments/tags/entities, hand-computed") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "<html><script>if (a < b) { x(); }</script><p>Hello <b>world</b></p></html>"),
      (2L, "<style type=\"text/css\">a > b {}</style>A &amp;amp; B &lt;tag&gt; &nbsp;end"),
      (3L, "<!-- comment with <tags> inside -->plain  text"),
      (4L, "no markup at all"),
      (5L, "")
    ).toDF("id", "page")
    val got = df.select($"id",
      TextAnalysis.stripHtml($"page").as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "Hello world")
    // &amp; decodes LAST: "&amp;amp;" -> "&amp;" (no double decode)
    assert(got(2L) == "A &amp; B <tag> end", got(2L))
    assert(got(3L) == "plain text")
    assert(got(4L) == "no markup at all")
    assert(got(5L) == "")
    val plan = df.select(TextAnalysis.stripHtml($"page"))
      .queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("udf"))
  }

  test("bigram LM stupid backoff: hand-computed fixture + differential") {
    val s = spark
    import s.implicits._
    import org.apache.spark.unsafe.types.UTF8String
    val corpus = Seq("a b", "a b", "a c").toDF("text")
    val lm = TextAnalysis.trainBigramLm(corpus, "text",
      topNUnigrams = 10, topNBigrams = 10)
    // full counts: a=3 b=2 c=1; bigrams a->b (2/3), a->c (1/3)
    assert(lm.bigrams.toSeq == Seq("a\u0001b", "a\u0001c"))
    assert(lm.condProbs.toSeq == Seq(2.0 / 3.0, 1.0 / 3.0))
    val denom = 6.0 + 0.5 * 4
    assert(lm.logScoreOf(null, "a") == math.log(3.5 / denom))
    assert(lm.logScoreOf("a", "b") == math.log(2.0 / 3.0))
    // unseen bigram backs off: ln(0.4) + unigram
    assert(lm.logScoreOf("b", "a") == math.log(0.4) + math.log(3.5 / denom))
    assert(lm.logScoreOf("a", "zz") == math.log(0.4) + math.log(0.5 / denom))
    val expAB = math.exp(-(math.log(3.5 / denom) + math.log(2.0 / 3.0)) / 2)
    assert(lm.perplexity(UTF8String.fromString("a b")) == expAB)
    assert(lm.perplexity(UTF8String.fromString("A  B")) == expAB) // case+runs
    assert(lm.perplexity(UTF8String.fromString(" ")) == null)
    // expression ≡ driver walk; codegen'd (no UDF)
    val bc = s.sparkContext.broadcast(lm)
    val df = Seq((1L, "a b zz"), (2L, "c a b"), (3L, null))
      .toDF("id", "text")
    val scored = df.select($"id",
      graft.functions.NgramLm.bigramPerplexity(bc)($"text").as("p"))
    val got = scored.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    for ((i, t) <- Seq(1L -> "a b zz", 2L -> "c a b"))
      assert(got(i).get == lm.perplexity(UTF8String.fromString(t)).doubleValue())
    assert(got(3L).isEmpty)
    val plan = scored.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("udf"), s"expected UDF-free plan:\n$plan")
    // bigram structure must price real continuations below backed-off ones:
    // "a b" (seen bigram) beats "b a" (same unigrams, unseen order)
    val pab = lm.perplexity(UTF8String.fromString("a b")).doubleValue()
    val pba = lm.perplexity(UTF8String.fromString("b a")).doubleValue()
    assert(pab < pba)
  }

  test("Profile.table: exact stats match direct aggregates; approx within rsd") {
    import graft.operators.Profile
    val got = Profile.table(docs, Seq("doc_id", "lang", "n_chars"))
      .collect().map(r => r.getString(0) -> r).toMap
    val n = docs.count()
    assert(got("doc_id").getLong(1) == n && got("doc_id").getLong(3) == n)
    val langs = docs.select("lang").distinct().count()
    assert(got("lang").getLong(3) == langs)
    assert(got("lang").isNullAt(6))                     // no avg for strings
    val approx = Profile.table(docs, Seq("doc_id"), exactDistinct = false)
      .collect()(0).getLong(3)
    assert(math.abs(approx - n).toDouble / n < 0.1)
  }

  test("Profile.histogram: bucket totals and under/overflow bins") {
    val s = spark
    import s.implicits._
    import graft.operators.Profile
    val df = Seq(-5.0, 0.0, 1.0, 9.9, 10.0, 15.0, 25.0).toDF("x")
    val got = Profile.histogram(df, "x", 0.0, 20.0, 2)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    // -5 underflows; [0,10): 0,1,9.9; [10,20): 10,15; 25 overflows
    assert(got == Map(0L -> 1L, 1L -> 3L, 2L -> 2L, 3L -> 1L))
    val total = Profile.histogram(docs, "n_chars", 0.0, 1000.0, 10)
      .agg(sum("cnt")).first().getLong(0)
    assert(total == docs.where(col("n_chars").isNotNull).count())
  }

  test("Profile.quantileBuckets: ordered non-overlapping slices; nulls fall last; guards") {
    val s = spark
    import s.implicits._
    import graft.operators.Profile
    val scored = docs.select(col("doc_id"), col("n_chars").cast("double").as("v"))
    val b = Profile.quantileBuckets(scored, "v")
    // every row labeled, slices ordered by value and non-overlapping
    val byLab = b.groupBy("bucket").agg(min("v").as("mn"), max("v").as("mx"),
      count(lit(1)).as("n")).collect().map(r => r.getString(0) -> r).toMap
    assert(byLab.keySet == Set("head", "middle", "tail"))
    assert(byLab("head").getDouble(2) <= byLab("middle").getDouble(1))
    assert(byLab("middle").getDouble(2) <= byLab("tail").getDouble(1))
    assert(byLab.values.map(_.getLong(3)).sum == docs.count())
    // roughly a third each (ties can shift boundaries)
    byLab.values.foreach(r =>
      assert(math.abs(r.getLong(3) - docs.count() / 3.0) < docs.count() * 0.2))
    // nulls land in the LAST slice
    val withNull = Seq(Some(1.0), Some(2.0), Some(3.0), None).toDF("v")
    val nb = Profile.quantileBuckets(withNull, "v", Seq(0.5), Seq("lo", "hi"))
    assert(nb.where($"v".isNull).select("bucket").first().getString(0) == "hi")
    // custom labels + misuse guards
    intercept[IllegalArgumentException] {
      Profile.quantileBuckets(scored, "v", Seq(0.5), Seq("only"))
    }
    intercept[IllegalArgumentException] {
      Profile.quantileBuckets(scored, "v", Seq(0.7, 0.3),
        Seq("a", "b", "c"))
    }
    intercept[IllegalArgumentException] {
      Profile.quantileBuckets(withNull.where($"v".isNull), "v",
        Seq(0.5), Seq("lo", "hi"))
    }
  }

  test("splitByGroup: groups never straddle splits; fractions roughly honored") {
    val s = spark
    import s.implicits._
    val split = Sampling.splitByGroup(docs, "lang", Seq(0.5, 0.5))
    val perGroup = split.groupBy("lang")
      .agg(countDistinct($"split_id").as("k"))
      .agg(max($"k")).first().getLong(0)
    assert(perGroup == 1L, "a group landed in two splits")
    // ids must NOT decide assignment: same result keyed from a shuffled frame
    val again = Sampling.splitByGroup(docs.repartition(7), "lang", Seq(0.5, 0.5))
    assertSameRows(split.select("doc_id", "split_id"),
      again.select("doc_id", "split_id"))
  }

  test("round-6 plan shapes: TakeOrdered sample, single-exchange rolling, no cartesian tfidf") {
    val s = spark
    import s.implicits._
    def executed(df: org.apache.spark.sql.DataFrame): String = {
      df.collect()
      df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    }
    // weighted sample: per-partition top-k + driver merge, never a global sort
    val ws = executed(Sampling.weightedSample(docs, "doc_id", "n_chars", 20))
    assert(ws.contains("TakeOrderedAndProject"), ws)
    // rolling features: ONE exchange feeds every window frame
    val ev = Seq((1L, 1L, 10L, 1.0), (2L, 1L, 20L, 2.0), (3L, 2L, 5L, 3.0))
      .toDF("event_id", "user_id", "ts", "value")
    val rp = executed(graft.operators.Rolling.trailingStats(ev,
      Seq("user_id"), "ts", "value", 100L, tieCols = Seq("event_id")))
    val exchanges = "Exchange".r.findAllIn(rp).size -
      "ReusedExchange".r.findAllIn(rp).size
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$rp")
    // tfidf: bucket-joined on the token key — no cartesian anywhere
    val tp = executed(TextAnalysis.tfidfKeywords(docs, "doc_id", "text", 3))
    assert(!tp.contains("CartesianProduct") &&
      !tp.contains("BroadcastNestedLoopJoin"), tp)
  }

  test("weightedSample: stable under repartition; k >= n returns everything") {
    val a = Sampling.weightedSample(docs, "doc_id", "n_chars", k = 50)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Sampling.weightedSample(docs.repartition(13), "doc_id", "n_chars", k = 50)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b)
    val n = docs.count()
    assert(Sampling.weightedSample(docs, "doc_id", "n_chars",
      k = (n + 10).toInt).count() == n)
  }

  test("PQ: codegen'd encode == driver argmin; ADC cosine == reconstruction; topK salted==unsalted") {
    val cb = graft.operators.Similarity.trainPqCodebook(emb, "vec_id",
      "embedding", m = 4, k = 8, iters = 1)
    assert(cb.m == 4 && cb.k == 8 && cb.dim == 64 && cb.dsub == 16)
    val enc = graft.operators.Similarity.pqEncode(emb, "embedding", cb)
    val rows = enc.select("vec_id", "embedding", "pq_codes").collect()
    assert(rows.length == emb.count())
    rows.foreach { r =>
      val v = r.getSeq[Float](1).toArray
      val got = r.getSeq[Int](2)
      val want = (0 until cb.m).map { j =>
        val x = v.slice(j * cb.dsub, (j + 1) * cb.dsub).map(_.toDouble)
        val dists = (0 until cb.k).map { c =>
          val cv = cb.centroids(j)(c)
          var xx = 0.0; var xc = 0.0; var cc = 0.0
          for (i <- x.indices) {
            xx += x(i) * x(i)
            xc += x(i) * cv(i).toDouble
            cc += cv(i).toDouble * cv(i).toDouble
          }
          xx - 2.0 * xc + cc
        }
        dists.indices.minBy(dists) // minBy keeps the FIRST min — ties -> smallest id
      }
      assert(got == want, s"vec ${r.getLong(0)}")
    }
    // ADC cosine equals the driver-computed reconstruction cosine exactly
    val scored = enc.limit(20).select(col("vec_id"), col("embedding"),
      col("pq_codes"),
      graft.operators.Similarity.pqCosine(col("embedding"), col("pq_codes"),
        cb).as("sim")).collect()
    scored.foreach { r =>
      val q = r.getSeq[Float](1).toArray
      val codes = r.getSeq[Int](2)
      var num = 0.0
      for (j <- 0 until cb.m; i <- 0 until cb.dsub)
        num += q(j * cb.dsub + i).toDouble * cb.centroids(j)(codes(j))(i).toDouble
      var qq = 0.0
      for (i <- q.indices) qq += q(i).toDouble * q(i).toDouble
      var n2 = 0.0
      for (j <- 0 until cb.m) n2 += cb.selfDots(j)(codes(j))
      val den = math.sqrt(qq) * math.sqrt(n2)
      val want = if (den == 0.0) 0.0 else num / den
      assert(r.getDouble(3) == want, s"vec ${r.getLong(0)}")
    }
    // salted ranking is a pure pruning: identical result
    val queries = emb.where(pmod(col("vec_id"), lit(100)) === 0)
    val a = graft.operators.Similarity.pqTopK(enc, queries, cb, "vec_id",
      "embedding", "pq_codes", k = 3)
    val b = graft.operators.Similarity.pqTopK(enc.repartition(9), queries,
      cb, "vec_id", "embedding", "pq_codes", k = 3, saltBuckets = 8)
    assertSameRows(a, b)
  }

  test("IVF-PQ: nProbe=nCells == full ADC scan; pruned probe is a subset-ranking; no cartesian") {
    val S = graft.operators.Similarity
    val cb = S.trainPqCodebook(emb, "vec_id", "embedding", m = 8, k = 16,
      iters = 1)
    val (cs, _) = S.trainCentroidSet(emb, "vec_id", "embedding", nCells = 8,
      iters = 1)
    val encoded = S.ivfPqEncode(emb, "embedding", cs, cb)
    // every row gets exactly one cell and m codes
    assert(encoded.where(col("cell_id").isNull ||
      size(col("pq_codes")) =!= cb.m).count() == 0)
    val queries = emb.where(pmod(col("vec_id"), lit(100)) === 0)
    // nProbe = nCells probes everything -> identical to the full ADC scan
    val all = S.ivfPqTopK(encoded, queries, cs, cb, "vec_id", "embedding",
      k = 5, nProbe = 8)
    val full = S.pqTopK(encoded, queries, cb, "vec_id", "embedding",
      "pq_codes", k = 5)
    assertSameRows(all, full)
    // pruned probe: every result comes from a probed cell, and
    // salted == unsalted on the same probe set
    val pruned = S.ivfPqTopK(encoded, queries, cs, cb, "vec_id",
      "embedding", k = 5, nProbe = 2)
    val prunedSalted = S.ivfPqTopK(encoded.repartition(7), queries, cs, cb,
      "vec_id", "embedding", k = 5, nProbe = 2, saltBuckets = 4)
    assertSameRows(pruned, prunedSalted)
    val probedPairs = queries
      .select(col("vec_id").as("query_id"), explode(
        graft.functions.VectorOps.nearestCells(col("embedding"), cs, 2))
        .as("cell_id"))
      .join(encoded.select(col("vec_id").as("neighbor_id"), col("cell_id")),
        Seq("cell_id"))
      .select("query_id", "neighbor_id")
    assert(pruned.join(probedPairs, Seq("query_id", "neighbor_id"),
      "left_anti").count() == 0, "results must come from probed cells")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("exactRerank: full-coverage ADC candidates == exact fp32 topK") {
    val S = graft.operators.Similarity
    val cb = S.trainPqCodebook(emb, "vec_id", "embedding", m = 4, k = 8,
      iters = 1)
    val enc = S.pqEncode(emb, "embedding", cb)
    val queries = emb.where(pmod(col("vec_id"), lit(100)) === 0)
    val n = emb.count().toInt
    val allCands = S.pqTopK(enc, queries, cb, "vec_id", "embedding",
      "pq_codes", k = n)
    val reranked = S.exactRerank(allCands, emb, queries, "vec_id",
      "embedding", k = 5)
    val exact = S.topK(emb, queries, "vec_id", "embedding", k = 5)
    assertSameRows(reranked, exact)
  }

  test("gopherSignals: hand-computed page signals and composite verdict") {
    import spark.implicits._
    // 9 tokens (newlines live inside space-split tokens), 2 identical lines
    val dupPage = "the be to of and\nthe be to of and"
    // 60 tokens, 2 stopwords, single line: passes every default rule
    val passing = "the be " + (1 to 58).map(i => f"word$i%03d").mkString(" ")
    val bullets = "- a\n- b\n* c\n• d"
    val symbols = "hi there...\nok #tag …"
    val df = Seq((1L, dupPage), (2L, passing), (3L, bullets),
      (4L, symbols)).toDF("id", "t")
    val s = TextAnalysis.gopherSignals(df, "id", "t").collect()
      .map(r => r.getAs[Long]("id") -> r).toMap
    val r1 = s(1L)
    assert(r1.getAs[Long]("n_tokens") == 9L)
    assert(r1.getAs[Double]("mean_token_len") == 25.0 / 9.0)
    assert(r1.getAs[Long]("stopword_hits") == 5L)
    assert(r1.getAs[Double]("dup_line_ratio") == 0.5)
    assert(r1.getAs[Double]("dup_line_char_ratio") == 0.5)
    assert(r1.getAs[Double]("alpha_token_ratio") == 1.0)
    assert(!r1.getAs[Boolean]("passes"), "9 tokens must fail minTokens")
    val r2 = s(2L)
    assert(r2.getAs[Long]("n_tokens") == 60L)
    assert(r2.getAs[Double]("mean_token_len") == 411.0 / 60.0)
    assert(r2.getAs[Boolean]("passes"))
    assert(s(3L).getAs[Double]("bullet_line_ratio") == 1.0)
    val r4 = s(4L)
    assert(r4.getAs[Double]("ellipsis_line_ratio") == 1.0)
    assert(r4.getAs[Double]("symbol_ratio") == 0.75)
    assert(r4.getAs[Double]("alpha_token_ratio") == 0.75)
  }

  test("gopherFilter ≡ the signals' passes column; shuffle-free plan") {
    val filtered = TextAnalysis.gopherFilter(docs, "text")
      .select("doc_id")
    val want = TextAnalysis.gopherSignals(docs, "doc_id", "text")
      .where(col("passes")).select("doc_id")
    assertSameRows(filtered, want)
    val plan = filtered.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"gopherFilter must not shuffle:\n$plan")
  }

  test("repetitionSignals: hand-computed n-gram fractions, guard, " +
      "shuffle-free plan") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b a b a b"),      // top 2-gram "a b" x3; every token covered
      (2L, "x y z w v"),        // no repeats: top cnt 1, dup coverage 0
      (3L, "a b"),              // shorter than n=3/n=2-dup edge
      (4L, "q r q r s t u q r q r s")) // dup 5-gram "q r q r s" covers 1-10
      .toDF("id", "t")
    val s = TextAnalysis.repetitionSignals(df, "id", "t",
      topNs = Seq(2, 3), dupNs = Seq(2, 5))
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    // id 1: tot token chars 6; "a b" cnt 3, gram chars 2 -> 6/6
    assert(s(1L).getAs[Double]("top_2gram_char_frac") == 1.0)
    // "a b a" cnt 2 beats "b a b" cnt 2? counts: "a b a"x2, "b a b"x2 ->
    // tie, lexicographically smaller "a b a" wins; chars 3, cnt 2 -> 6/6
    assert(s(1L).getAs[Double]("top_3gram_char_frac") == 1.0)
    assert(s(1L).getAs[Double]("dup_2gram_char_frac") == 1.0)
    assert(s(1L).getAs[Double]("dup_5gram_char_frac") == 0.0)
    // id 2: five 1-char tokens; top 2-gram cnt 1 x 2 chars / 5
    assert(s(2L).getAs[Double]("top_2gram_char_frac") == 0.4)
    assert(s(2L).getAs[Double]("dup_2gram_char_frac") == 0.0)
    // id 3: one 2-gram (cnt 1, 2 chars / 2 = 1.0); no 3-grams -> 0.0
    assert(s(3L).getAs[Double]("top_2gram_char_frac") == 1.0)
    assert(s(3L).getAs[Double]("top_3gram_char_frac") == 0.0)
    // id 4: 12 tokens; "q r q r s" occurs at 1 and 6 (1-based) -> covers
    // tokens 1..10 of 12 -> 10/12
    assert(math.abs(s(4L).getAs[Double]("dup_5gram_char_frac") - 10.0 / 12) < 1e-12)
    // guard: beyond maxTokens every signal is NULL
    val g = TextAnalysis.repetitionSignals(df, "id", "t",
      topNs = Seq(2), dupNs = Seq(5), maxTokens = 3).collect()
      .map(r => r.getAs[Long]("id") -> r).toMap
    assert(g(1L).isNullAt(1) && g(1L).isNullAt(2), "guarded doc must be NULL")
    assert(!g(3L).isNullAt(1), "short doc under guard stays computed")
    val plan = TextAnalysis.repetitionSignals(df, "id", "t")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"repetitionSignals must not shuffle:\n$plan")
  }

  test("capPerGroup: exact per-group cap, salted == unsalted, smallest hashes win") {
    import org.apache.spark.sql.expressions.Window
    val df = docs.select(col("doc_id"), col("lang"))
    val capped = Sampling.capPerGroup(df, Seq("lang"), maxN = 10,
      idCol = "doc_id")
    val sizes = capped.groupBy("lang").count()
      .join(df.groupBy("lang").agg(count(lit(1)).as("n")), "lang").collect()
    assert(sizes.nonEmpty)
    sizes.foreach { r =>
      assert(r.getAs[Long]("count") == math.min(r.getAs[Long]("n"), 10L),
        s"lang ${r.getAs[String]("lang")}")
    }
    val salted = Sampling.capPerGroup(df.repartition(13), Seq("lang"),
      maxN = 10, idCol = "doc_id", saltBuckets = 8)
    assertSameRows(capped, salted)
    val want = df
      .withColumn("k", substring(md5(col("doc_id").cast("string")), 1, 8))
      .withColumn("rk", row_number().over(
        Window.partitionBy("lang").orderBy(col("k"), col("doc_id"))))
      .where(col("rk") <= 10).select("doc_id", "lang")
    assertSameRows(capped, want)
  }

  test("mixCorpora: exact thresholds, limiting source intact, deterministic") {
    val weights = Map("en" -> 0.5, "de" -> 0.25, "es" -> 0.25)
    def tokCol = TextAnalysis.tokenCount(col("text"))
    val mixed = Sampling.mixCorpora(docs, "lang", "doc_id", tokCol, weights)
    assert(mixed.select("lang").distinct().collect().map(_.getString(0))
      .toSet.subsetOf(weights.keySet), "unweighted sources must be dropped")
    assertSameRows(mixed.select("doc_id", "lang"),
      Sampling.mixCorpora(docs.repartition(7), "lang", "doc_id", tokCol,
        weights).select("doc_id", "lang"))
    // independent recomputation of the rate -> threshold -> filter chain
    val totals = docs.groupBy("lang").agg(sum(tokCol).as("tok")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = weights.map { case (s, w) => totals(s).toDouble / w }.min
    def thr(s: String): String = {
      val rate = math.min(weights(s) * total / totals(s).toDouble, 1.0)
      f"${math.min((rate * 4294967296.0).toLong, 4294967295L)}%08x"
    }
    val thrCol = when(col("lang") === "en", lit(thr("en")))
      .when(col("lang") === "de", lit(thr("de")))
      .otherwise(lit(thr("es")))
    val want = docs.where(col("lang").isin("en", "de", "es"))
      .where(substring(md5(col("doc_id").cast("string")), 1, 8) < thrCol)
      .select("doc_id", "lang")
    assertSameRows(mixed.select("doc_id", "lang"), want)
    // the limiting source's rate is 1: it keeps (essentially) every row
    val limiting = weights.keys.minBy(s => totals(s).toDouble / weights(s))
    assert(mixed.where(col("lang") === limiting).count() ==
      docs.where(col("lang") === limiting).count())
    intercept[IllegalArgumentException] {
      Sampling.mixCorpora(docs, "lang", "doc_id", tokCol, Map("xx" -> 1.0))
    }
  }

  test("semDeDup: driver replay of the full keep policy; exact-copy tiebreak") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val kept = Dedup.semDeDup(emb, "vec_id", "embedding", 0.4, nCells = 8)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // driver replay: seed quantizer (smallest-md5 ids), single-cell
    // assignment, in-cell priority pairs, farthest-from-centroid keeps
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble; i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val cents = vecs.keys.toSeq.map(id => (md5hex(id.toString), id))
      .sorted.take(8).map(_._2).zipWithIndex
      .map { case (id, c) => c -> vecs(id) }
    val asg = vecs.map { case (id, v) =>
      val (cid, sim) = cents.map { case (c, cv) => (c, cos(v, cv)) }
        .maxBy { case (c, s) => (s, -c) }
      id -> (cid, sim)
    }
    val removed = (for {
      (aId, (aCid, aSim)) <- asg.toSeq
      (bId, (bCid, bSim)) <- asg.toSeq
      if aCid == bCid &&
        (aSim < bSim || (aSim == bSim && aId < bId)) &&
        cos(vecs(aId), vecs(bId)) > 0.4
    } yield bId).toSet
    assert(kept == vecs.keySet -- removed)
    assert(removed.nonEmpty, "fixture must exercise removal")
    // an exact copy (cosine 1, equal centroid sim) loses by id tiebreak;
    // the quantizer is pinned so the injected id cannot shift the seed
    import spark.implicits._
    val (cs, _) = Similarity.trainCentroidSet(emb, "vec_id", "embedding",
      nCells = 8, iters = 1)
    val src = emb.select("vec_id", "embedding").as[(Long, Seq[Float])]
      .collect()
    val copied = (src :+ (99999L, src.head._2)).toSeq
      .toDF("vec_id", "embedding")
    val keptBase = Dedup.semDeDup(src.toSeq.toDF("vec_id", "embedding"),
      "vec_id", "embedding", 0.4, quantizer = Some(cs))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val kept2 = Dedup.semDeDup(copied, "vec_id", "embedding", 0.4,
      quantizer = Some(cs))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(!kept2.contains(99999L),
      "the larger-id exact copy must be the one removed")
    assert(kept2 == keptBase,
      "injecting a pure copy must not change other survivors")
    // scale shape: no window anywhere in the plan
    val plan = Dedup.semDeDup(emb, "vec_id", "embedding", 0.4, nCells = 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"semDeDup must be window-free:\n$plan")
  }

  test("Dsir: training and scoring match a driver replay; shuffle-free scan") {
    val model = Dsir.train(docs.where(col("lang") === "en"), docs, "text",
      buckets = 256, alpha = 1.0)
    // independent driver replay of featurization + training
    def bucket(t: String): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
      val hex = d.digest(t.getBytes("UTF-8")).map("%02x".format(_))
        .mkString.take(8)
      (java.lang.Long.parseLong(hex, 16) % 256).toInt
    }
    val toks = docs.select("doc_id", "lang", "text").collect().map(r =>
      (r.getLong(0), r.getString(1),
        r.getString(2).toLowerCase.split(" ").filter(_.nonEmpty)))
    val tc = new Array[Long](256); val rc = new Array[Long](256)
    toks.foreach { case (_, lang, ts) => ts.foreach { t =>
      val b = bucket(t); rc(b) += 1; if (lang == "en") tc(b) += 1 } }
    val tn = tc.sum.toDouble; val rn = rc.sum.toDouble
    val want = Array.tabulate(256)(b =>
      math.log((tc(b) + 1.0) / (tn + 256.0)) -
        math.log((rc(b) + 1.0) / (rn + 256.0)))
    assert(model.logRatios.zip(want).forall {
      case (a, b) => math.abs(a - b) < 1e-12 })
    // per-doc score: the same sequential left-fold the HOF walk does
    val got = Dsir.score(docs, "text", model)
      .select("doc_id", "dsir_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    toks.foreach { case (id, _, ts) =>
      val w = ts.foldLeft(0.0)((acc, t) => acc + model.logRatios(bucket(t)))
      assert(math.abs(got(id) - w) < 1e-9, s"doc $id: ${got(id)} vs $w")
    }
    // the selection semantics: target-language docs score higher on average
    val byLang = toks.groupBy(_._2).view
      .mapValues(xs => xs.map(x => got(x._1)).sum / xs.size).toMap
    assert(byLang("en") > byLang.filterNot(_._1 == "en").values.max,
      s"en mean must dominate: $byLang")
    // scoring is one scan: no exchange in the plan
    val plan = Dsir.score(docs, "text", model)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"scoring must not shuffle:\n$plan")
  }

  test("Dsir.resample: Gumbel top-k matches driver replay; stable") {
    val model = Dsir.train(docs.where(col("lang") === "en"), docs, "text",
      buckets = 256, alpha = 1.0)
    val sel = Dsir.resample(docs, "doc_id", "text", model, k = 40, seed = 3L)
    val got = sel.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got.size == 40)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val scores = Dsir.score(docs, "text", model)
      .select("doc_id", "dsir_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    val want = scores.map { case (id, s) =>
      val u = (java.lang.Long.parseLong(md5hex(s"3#$id").take(8), 16) + 1L)
        .toDouble / 4294967297.0
      id -> (s - math.log(-math.log(u)))
    }.sortBy { case (id, k) => (-k, id) }.take(40).map(_._1).toSet
    assert(got == want)
    assertSameRows(sel,
      Dsir.resample(docs.repartition(13), "doc_id", "text", model, 40, 3L))
  }

  test("c4Signals: hand-computed line accounting and page verdicts") {
    import spark.implicits._
    // line keep: terminal punct + >=3 words + no phrase; page: >=5
    // sentences after cleaning, no lorem/brace/badword
    val mixed = "This line ends well.\nshort.\nno terminal punct here\n" +
      "Another proper sentence here!\nWe use cookies always."
    val passing = (1 to 6).map(i => s"Proper sentence number $i.")
      .mkString("\n")
    val lorem = passing + "\nAbout Lorem Ipsum text origins."
    val braced = passing + "\nvar x = { y: 1 };"
    val df = Seq((1L, mixed), (2L, passing), (3L, lorem), (4L, braced))
      .toDF("id", "t")
    val s = TextAnalysis.c4Signals(df, "id", "t").collect()
      .map(r => r.getAs[Long]("id") -> r).toMap
    val r1 = s(1L)
    assert(r1.getAs[Long]("n_lines") == 5L)
    assert(r1.getAs[Long]("n_kept_lines") == 2L,
      "1-word, punct-less and cookie lines must drop")
    assert(r1.getAs[Long]("n_sentences") == 2L)
    assert(!r1.getAs[Boolean]("passes"), "2 sentences must fail min 5")
    assert(s(2L).getAs[Boolean]("passes"))
    assert(s(3L).getAs[Boolean]("has_lorem") && !s(3L).getAs[Boolean]("passes"))
    assert(s(4L).getAs[Boolean]("has_brace") && !s(4L).getAs[Boolean]("passes"))
    // the cleaned text itself, exactly
    val cleaned = df.where(col("id") === 1L)
      .select(TextAnalysis.c4CleanText(col("t")).as("c"))
      .collect().head.getString(0)
    assert(cleaned ==
      "This line ends well.\nAnother proper sentence here!")
    // badWords gate is token-exact on the lowercased split
    val bad = TextAnalysis.C4Rules(minSentences = 1L,
      badWords = Seq("slur"))
    val verdicts = Seq((1L, "Contains the Slur word here."),
      (2L, "Contains slurry but not the word."))
      .toDF("id", "t")
      .select(col("id"), TextAnalysis.c4Passes(col("t"), bad).as("p"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(!verdicts(1L) && verdicts(2L),
      "badWords must match whole tokens, not substrings")
  }

  test("c4Filter ≡ signals' passes + in-place cleaning; shuffle-free plan") {
    val synth = docs.select(col("doc_id"),
      concat(col("text"), lit(".\nWe use cookies here.\n"),
        lit("Extra one. Extra two. Extra three. Extra four.")).as("page"))
    val filtered = TextAnalysis.c4Filter(synth, "page")
    val want = TextAnalysis.c4Signals(synth, "doc_id", "page")
      .where(col("passes")).select("doc_id")
    assertSameRows(filtered.select("doc_id"), want)
    // the surviving text is the line-cleaned form
    val direct = synth.select(col("doc_id"),
      TextAnalysis.c4CleanText(col("page")).as("page"))
    assertSameRows(filtered,
      direct.join(want, Seq("doc_id")))
    val plan = filtered.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"c4Filter must not shuffle:\n$plan")
  }

  test("hardNegatives: exclusion, ranking vs driver reference, semi-hard bar") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    import spark.implicits._
    val positives = (0L until 8L).map(q => (q, q + 20L))
      .toDF("query_id", "pos_id")
    val got = Similarity.hardNegatives(emb, positives, "vec_id", "embedding",
      k = 5).collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))

    // driver reference: all cosines per anchor, drop anchor+positives,
    // sort by (cos desc, id), take 5
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val posMap = positives.collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val want = posMap.keys.toSeq.sorted.flatMap { q =>
      val excl = posMap(q) + q
      vecs.toSeq.filterNot { case (id, _) => excl(id) }
        .map { case (id, v) => (id, cos(vecs(q), v)) }
        .sortBy { case (id, c) => (-c, id) }.take(5).zipWithIndex
        .map { case ((id, _), i) => (q, id, i + 1) }
    }
    assert(got.sortBy(t => (t._1, t._3)).toSeq == want)

    // semi-hard: every kept negative scores strictly below the anchor's
    // NEAREST positive, and the result is the top-k of that filtered set
    val semi = Similarity.hardNegatives(emb, positives, "vec_id",
      "embedding", k = 5, semiHard = true).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val wantSemi = posMap.keys.toSeq.sorted.flatMap { q =>
      val excl = posMap(q) + q
      val bar = posMap(q).map(p => cos(vecs(q), vecs(p))).min
      vecs.toSeq.filterNot { case (id, _) => excl(id) }
        .map { case (id, v) => (id, cos(vecs(q), v)) }
        .filter(_._2 < bar)
        .sortBy { case (id, c) => (-c, id) }.take(5).zipWithIndex
        .map { case ((id, _), i) => (q, id, i + 1) }
    }
    assert(semi.sortBy(t => (t._1, t._3)).toSeq == wantSemi)

    // salted ranking is a pure execution detail
    assertSameRows(
      Similarity.hardNegatives(emb, positives, "vec_id", "embedding", k = 5,
        saltBuckets = 4),
      Similarity.hardNegatives(emb, positives, "vec_id", "embedding", k = 5))
  }

  test("semi-hard bar is per-anchor, not mixed across anchors") {
    // anchor 0's positive is NEAR (bar high); anchor 1's positive is on
    // the opposite side (bar very low). If the bar join degenerates to
    // neighbor==pos only (the shared-ExprId trap), anchor 0 inherits
    // anchor 1's low bar and drops the mid-similarity negative.
    import spark.implicits._
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f)), // anchor 0
      (1L, Seq(-1.0f, 0.0f)), // anchor 1
      (20L, Seq(0.9f, 0.1f)), // pos of 0: cos ~ 0.994
      (21L, Seq(-1.0f, 0.1f)), // pos of 1
      (30L, Seq(0.5f, 0.5f)), // neg: cos(0, 30) ~ 0.707 — under 0's bar
      (31L, Seq(0.0f, 1.0f))) // neg: cos(0, 31) = 0
      .toDF("vec_id", "embedding")
    val positives = Seq((0L, 20L), (1L, 21L)).toDF("query_id", "pos_id")
    val semi = Similarity.hardNegatives(vecs, positives, "vec_id",
      "embedding", k = 10, semiHard = true).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(semi.contains((0L, 30L)),
      "anchor 0 must keep the 0.707 negative under its own 0.994 bar")
    assert(semi.contains((0L, 31L)) && semi.contains((0L, 21L)))
  }

  test("hardNegativesIvf: full-coverage probe == brute; pruned probe subsets") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    import spark.implicits._
    val positives = (0L until 6L).map(q => (q, q + 30L))
      .toDF("query_id", "pos_id")
    val brute = Similarity.hardNegatives(emb, positives, "vec_id",
      "embedding", k = 4, semiHard = true)
    // nProbe == nCells: every cell probed -> candidates cover the corpus
    val full = Similarity.hardNegativesIvf(emb, positives, "vec_id",
      "embedding", k = 4, semiHard = true, nCells = 8, nProbe = 8)
    assertSameRows(full, brute)
    // pruned probe: a valid (query_id, neg_id) subset, ranks contiguous,
    // exclusions still honored
    val pruned = Similarity.hardNegativesIvf(emb, positives, "vec_id",
      "embedding", k = 4, nCells = 8, nProbe = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val posSet = positives.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pruned.foreach { case (q, n, _) =>
      assert(q != n && !posSet((q, n)), s"excluded pair ($q,$n) leaked")
    }
    pruned.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length))
    }
  }

  test("marginMine: driver replay of the ratio margin; IVF allProbe == brute") {
    val src = emb.where(col("vec_id") < 8)
    val tgt = emb.where(col("vec_id") >= 8 && col("vec_id") < 40)
    val k = 3
    val got = Similarity.marginMine(src, tgt, "vec_id", "embedding", k,
      minMargin = 0.0) // no filter: compare the whole candidate frame
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3))).toSet
    // driver replay on collected vectors
    def vecs(d: org.apache.spark.sql.DataFrame) = d
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val sv = vecs(src); val tv = vecs(tgt)
    def knn(q: (Long, Array[Double]), corpus: Seq[(Long, Array[Double])]) =
      corpus.filter(_._1 != q._1).map { case (id, v) => (id, cos(q._2, v)) }
        .sortBy { case (id, s) => (-s, id) }.take(k)
    val avgF = sv.map(q => q._1 -> { val nn = knn(q, tv.toSeq)
      nn.map(_._2).foldLeft(0.0)(_ + _) / nn.length }).toMap
    val avgB = tv.map(q => q._1 -> { val nn = knn(q, sv.toSeq)
      nn.map(_._2).foldLeft(0.0)(_ + _) / nn.length }).toMap
    val want = sv.flatMap { q =>
      knn(q, tv.toSeq).map { case (tid, c) =>
        (q._1, tid, math.rint(c * 1e6) / 1e6,
          math.rint(c / ((avgF(q._1) + avgB(tid)) / 2) * 1e6) / 1e6)
      }
    }.toSet
    assert(got == want, s"diff=${(got diff want) ++ (want diff got)}")
    // scale path: every cell probed reproduces brute exactly
    val brute = Similarity.marginMine(src, tgt, "vec_id", "embedding", k,
      minMargin = 1.0)
    val ivfAll = Similarity.marginMine(src, tgt, "vec_id", "embedding", k,
      minMargin = 1.0, nCells = 8, nProbe = 8)
    assertSameRows(ivfAll, brute)
    // the emitted frame honors the margin floor
    brute.collect().foreach(r => assert(r.getDouble(3) >= 1.0))
  }

  test("semanticDecontaminate: NOT-EXISTS replay, no shuffle, eval guard") {
    val evalSide = emb.where(col("vec_id") < 30)
    val train = emb.where(col("vec_id") >= 30)
    val kept = Similarity.semanticDecontaminate(train, evalSide,
      "vec_id", "embedding", threshold = 0.4)
    def vecs(d: org.apache.spark.sql.DataFrame) = d
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val ev = vecs(evalSide)
    val want = vecs(train).collect {
      case (id, v) if !ev.exists { case (_, e) => cos(v, e) >= 0.4 } => id
    }.toSet
    val got = kept.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got == want, s"missing=${want diff got} extra=${got diff want}")
    assert(got.size < vecs(train).length,
      "fixture must actually drop something")
    // broadcast nested-loop anti join: no exchange other than broadcast
    val plan = kept.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(500))
    assert(!plan.contains("Exchange hashpartitioning"),
      "semantic decontamination must not shuffle the corpus")
    // eval sides too big to broadcast are refused with a bounded count
    val e = intercept[IllegalArgumentException] {
      Similarity.semanticDecontaminate(train, emb, "vec_id", "embedding",
        0.4, maxEvalRows = 10)
    }
    assert(e.getMessage.contains("broadcast"))
  }

  test("encodingSignals: hand-built artifacts count exactly; clean, " +
      "empty, and null text read zero") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val df = Seq(
      (1L, "clean text"),
      (2L, "bad \uFFFD\uFFFD run"),            // 2 replacement chars
      (3L, "bell\u0007 and del\u007F"),        // 2 control chars
      (4L, "caf\u00C3\u00A9 \u00E2\u0080\u0099"), // 2 mojibake pairs
      (5L, ""),
      (6L, null.asInstanceOf[String])
    ).toDF("id", "text")
    val got = TextAnalysis.encodingSignals(df, "id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap
    assert(got(1L) == ((0L, 0L, 0L, 0.0)))
    // "bad \uFFFD\uFFFD run" = 10 chars
    assert(got(2L) == ((2L, 0L, 0L, 0.2)))
    // 14 chars, 2 control
    assert(got(3L)._2 == 2L && got(3L)._4 == math.rint(2.0 / 14 * 1e6) / 1e6)
    // 9 chars, 2 pairs; the C1 continuation bytes (\u0080, \u0099)
    // also count as control (documented overlap) -> 6 noisy chars
    assert(got(4L)._3 == 2L && got(4L)._2 == 2L, s"mojibake ${got(4L)}")
    assert(got(4L)._4 == math.rint(6.0 / 9 * 1e6) / 1e6, s"frac ${got(4L)}")
    assert(got(5L) == ((0L, 0L, 0L, 0.0)))
    assert(got(6L) == ((0L, 0L, 0L, 0.0)))
  }

  test("curriculumOrder: quantile bands ascend with score, re-seeding " +
      "reshuffles within bands only, null score -> null band") {
    import spark.implicits._
    import graft.operators.Sampling
    val df = ((1L to 90L).map(i => (i, Some(i.toDouble))) :+
      ((91L, None: Option[Double]))).toDF("id", "score")
    val a = Sampling.curriculumOrder(df, "id", "score", bands = 3)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getInt(2)), r.getString(3)))
      .toMap
    // 90 uniform scores: thirds band cleanly (cuts at 30.67 / 60.33)
    assert((1L to 90L).forall { i =>
      val want = if (i <= 30) 1 else if (i <= 60) 2 else 3
      a(i)._1.contains(want)
    })
    assert(a(91L)._1.isEmpty, "null score must band null")
    // re-seed: same bands, different within-band key order
    val b = Sampling.curriculumOrder(df, "id", "score", bands = 3,
        seed = 99L)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getInt(2)), r.getString(3)))
      .toMap
    assert((1L to 90L).forall(i => a(i)._1 == b(i)._1))
    assert((1L to 90L).exists(i => a(i)._2 != b(i)._2))
    // determinism: identical call = identical keys
    val c = Sampling.curriculumOrder(df, "id", "score", bands = 3)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert((1L to 90L).forall(i => a(i)._2 == c(i)))
  }
}
