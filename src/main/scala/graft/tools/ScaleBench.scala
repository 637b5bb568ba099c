package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.harness.Lake
import graft.operators.{AsOfJoin, Dedup, IndexJoin, Similarity}

/** Scale-validation bench (VERDICT r3 item 5): the same headline shapes as
  * [[graft.Bench]], run against the GenScale ×30 dataset (~sf3: 4.5M
  * orders, 18M lineitem, 3M events, 150k synthesized NON-self-similar
  * docs, 60k perturbed embeddings). Purpose:
  *  (a) show the indexed-join/fullscan crossover flipping once files are
  *      production-sized (at sf0.1 the full scan of 19 MB wins by
  *      construction — BASELINE.md documents this honestly);
  *  (b) show near-dup staying subquadratic on a corpus that is NOT
  *      all-pairs-similar (the driver corpus is, making every dedup bench
  *      candidate-bound rather than bucketing-bound).
  * Prints ONE JSON line, same shape as Bench.
  */
object ScaleBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/bench_sf/sf3")
    // "all" (default) runs every section; "joins" runs only the indexed-vs-
    // fullscan crossover (for the orders-heavy ×300 dataset, where building
    // the unrelated text/csv fixtures would dwarf the measurement)
    val mode = args.lift(1).getOrElse("all")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }

    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    val counts = scala.collection.mutable.LinkedHashMap[String, Long]()

    // model a production lake: 8x the band count → orders is 64 files, so a
    // full scan pays 64 file opens while a key-local probe still reads ~8
    spark.conf.set("spark.graft.lakeBandScale",
      sys.env.getOrElse("SPARK_GRAFT_BAND_SCALE", "8"))
    val (lake, setupSec) = time {
      val lk = Lake.get(spark, sfDir)
      if (mode == "joins") lk.ordersIdx
      else if (mode == "build") lk.ordersFiles // split only; build IS the bench
      else if (mode == "winidx") lk.documentsFiles // split only; builds ARE the bench
      else if (mode == "pq") () // embeddings only; no index fixtures needed
      else if (mode == "curate") () // raw docs/events only; no index fixtures
      else if (mode == "mine") () // embeddings only; no index fixtures
      else if (mode == "hh") () // raw docs only; no index fixtures
      else if (mode == "kll") () // raw lineitem only; no index fixtures
      else if (mode == "quality") () // raw tables only; no index fixtures
      else if (mode == "drift") () // raw lineitem only; no index fixtures
      else if (mode == "govern") () // raw docs/lineitem; no index fixtures
      else if (mode == "retrieval") () // raw docs/lineitem; no index fixtures
      else if (mode == "graph") () // raw lineitem/orders; no index fixtures
      else if (mode == "ego") lk.edgesFiles // split only; index build is the bench
      else if (mode == "egoserve") lk.edgesFiles // split only; serve-index build is the bench
      else if (mode == "uncertainty") () // raw lineitem; no index fixtures
      else if (mode == "probeorder") lk.documentsFiles // split only; build is the bench
      else lk.prebuild()
      lk
    }
    results("x_lake_setup") = setupSec
    System.err.println(f"[scalebench] lake setup $setupSec%.1fs")

    def bench(name: String)(body: => Long): Unit = {
      val (n, sec) = time {
        try body
        catch { case e: Throwable =>
          System.err.println(s"[scalebench] $name failed: ${e.getMessage}"); -1L }
      }
      results(name) = sec
      counts(name) = n
      System.err.println(f"[scalebench] $name $sec%.1fs ($n rows)")
      System.gc()
    }

    // r7: decontamination THROUGH the window-hash index vs the full-scan
    // semi-join — a SMALL new eval release (1/37 of docs) probes the lake;
    // index build is timed separately (train once, probe per release).
    // r8 adds the exploded-BLOOM twin on both sides: the bloom build is one
    // streaming aggregate (no large-index overflow eviction), the bloom
    // probe answers the same which-files question with fpr-bounded extra
    // reads. Runs in mode "all" and standalone as mode "winidx".
    def windowIndexSection(): Unit = {
      bench("x_winidx_build") {
        lake.docsWindowIdx; 1L
      }
      bench("x_winbloom_build") {
        lake.docsWindowBloomIdx; 1L
      }
      val newEval = lake.documents.where(pmod(col("doc_id"), lit(37)) === 0)
      val evalWins = newEval.select(explode(Dedup.windowHashes(col("text"), 10,
        distinctWithinDoc = true)).as("win_hash")).distinct()
      // timed run measures the probe alone; pruning telemetry comes from a
      // separate UNTIMED run so the indexed side isn't billed for metric
      // aggregates the full scan doesn't pay (the Bench.scala discipline)
      def deconVia(idx: => graft.Index): Long =
        idx.join(evalWins, Seq("win_hash"))
          .where(pmod(col("doc_id"), lit(37)) =!= 0)
          .select("doc_id").distinct().count()
      bench("q_decon_indexed") { deconVia(lake.docsWindowIdx) }
      bench("q_decon_bloom") { deconVia(lake.docsWindowBloomIdx) }
      spark.conf.set("spark.graft.metricsEnabled", "true")
      graft.operators.IndexJoin.lastMetrics = None
      deconVia(lake.docsWindowIdx)
      graft.operators.IndexJoin.lastMetrics.foreach { m =>
        results("x_decon_files_frac") =
          if (m.totalFiles == 0) 1.0 else m.locatedFiles.toDouble / m.totalFiles
      }
      graft.operators.IndexJoin.lastMetrics = None
      deconVia(lake.docsWindowBloomIdx)
      graft.operators.IndexJoin.lastMetrics.foreach { m =>
        results("x_decon_bloom_files_frac") =
          if (m.totalFiles == 0) 1.0 else m.locatedFiles.toDouble / m.totalFiles
      }
      spark.conf.set("spark.graft.metricsEnabled", "false")
      bench("q_decon_fullscan") {
        val train = lake.documents.where(pmod(col("doc_id"), lit(37)) =!= 0)
        val trainWins = train.select(col("doc_id"), explode(
          Dedup.windowHashes(col("text"), 10, distinctWithinDoc = true))
          .as("win_hash"))
        trainWins.join(evalWins, Seq("win_hash"), "left_semi")
          .select("doc_id").distinct().count()
      }
      // r8 fourth wave: phrase search (find-this-quote) through the same
      // window index vs the token-aligned full scan
      val phrase = lake.documents.where(col("doc_id") === 1)
        .select(concat_ws(" ",
          slice(split(lower(col("text")), " "), 1, 10)).as("p"))
        .first().getString(0)
      bench("q_phrase_indexed") {
        lake.docsWindowIdx.searchText(phrase).count()
      }
      bench("q_phrase_bloom") {
        lake.docsWindowBloomIdx.searchText(phrase).count()
      }
      bench("q_phrase_fullscan") {
        lake.documents.where(contains(
          concat(lit(" "), lower(col("text")), lit(" ")),
          lit(" " + phrase + " "))).count()
      }
      val hashes = spark.range(1)
        .select(explode(Dedup.windowHashes(lit(phrase), 10,
          distinctWithinDoc = true)).as("h"))
        .collect().map(_.getLong(0)).toSeq
      val locatedPhrase =
        lake.docsWindowIdx.locateFiles(Map("win_hash" -> hashes))
      results("x_phrase_files_frac") =
        locatedPhrase.size.toDouble / lake.documentsFiles.size
    }

    // r8: PQ serving path over the ×30 embeddings — train once, prepare
    // (cells + codes) once, then compare full-ADC vs cell-routed IVF-PQ
    // vs fp32 brute for the same 100-query workload, plus the rerank
    // tail. Runs in mode "all" and standalone as mode "pq".
    def pqSection(): Unit = {
      val emb = lake.embeddings.cache()
      emb.count()
      var cbH: graft.functions.PqCodebook = null
      var csH: graft.functions.CentroidSet = null
      bench("x_pq_train") {
        cbH = Similarity.trainPqCodebook(emb, "vec_id", "embedding",
          m = 16, k = 64, iters = 1)
        csH = Similarity.trainCentroidSet(emb, "vec_id", "embedding",
          nCells = 64, iters = 1)._1
        (cbH.m * cbH.k).toLong
      }
      val prepared = Similarity.ivfPqEncode(emb, "embedding", csH, cbH)
        .select("vec_id", "cell_id", "pq_codes").cache()
      bench("x_pq_encode") { prepared.count() }
      val queries = emb.where(pmod(col("vec_id"), lit(600)) === 0)
      bench("q_pq_adc_topk") {
        Similarity.pqTopK(prepared, queries, cbH, "vec_id", "embedding",
          "pq_codes", k = 10, saltBuckets = 8).count()
      }
      bench("q_pq_ivf_topk") {
        Similarity.ivfPqTopK(prepared, queries, csH, cbH, "vec_id",
          "embedding", k = 10, nProbe = 8, saltBuckets = 8).count()
      }
      bench("q_pq_ivf_rerank") {
        val cands = Similarity.ivfPqTopK(prepared, queries, csH, cbH,
          "vec_id", "embedding", k = 40, nProbe = 8, saltBuckets = 8)
        Similarity.exactRerank(cands, emb, queries, "vec_id", "embedding",
          k = 10).count()
      }
      spark.conf.set("spark.graft.bruteForceRowLimit", "100000")
      bench("q_pq_brute_fp32") {
        Similarity.topK(emb, queries, "vec_id", "embedding", k = 10).count()
      }
      spark.conf.unset("spark.graft.bruteForceRowLimit")
      // recall telemetry, UNTIMED (the Bench discipline)
      val exact = Similarity.topK(emb, queries, "vec_id", "embedding",
        k = 10).select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      def recall(df: org.apache.spark.sql.DataFrame): Double = {
        val s = df.select("query_id", "neighbor_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        s.intersect(exact).size.toDouble / exact.size
      }
      results("x_pq_adc_recall") = recall(Similarity.pqTopK(prepared,
        queries, cbH, "vec_id", "embedding", "pq_codes", k = 10,
        saltBuckets = 8))
      results("x_pq_ivf_recall") = recall(Similarity.ivfPqTopK(prepared,
        queries, csH, cbH, "vec_id", "embedding", k = 10, nProbe = 8,
        saltBuckets = 8))
      results("x_pq_rerank_recall") = recall(Similarity.exactRerank(
        Similarity.ivfPqTopK(prepared, queries, csH, cbH, "vec_id",
          "embedding", k = 40, nProbe = 8, saltBuckets = 8),
        emb, queries, "vec_id", "embedding", k = 10))
      prepared.unpersist()
      emb.unpersist()
    }

    // r8 second half: the curation additions at ×30 — quality-ordered
    // token-budget cut, perplexity terciles, incremental near-dup ingest
    // (3 id-ordered batches vs the one-shot cut it must reproduce), and
    // the hilbert-vs-zorder re-layout with box-pruning telemetry.
    def curateSection(): Unit = {
      import graft.operators.{Layout, Profile, Sampling, TextAnalysis}
      val docs = lake.documents.cache()
      counts("x_docs") = docs.count()
      val scored = docs.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tok"),
        (length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("double") /
          length(col("text")).cast("double")).as("score"))
      val totalToks = scored.agg(sum("n_tok")).first().getLong(0)
      counts("x_total_tokens") = totalToks
      bench("q_token_budget") {
        Sampling.takeByTokenBudget(scored, "doc_id", "n_tok", "score",
          budget = totalToks / 3).count()
      }
      bench("q_ppl_buckets") {
        val lm = TextAnalysis.trainUnigramLm(docs, "text", topN = 50000)
        val bc = spark.sparkContext.broadcast(lm)
        val s2 = docs.select(col("doc_id"),
          round(graft.functions.NgramLm.perplexity(bc)(col("text")), 6)
            .as("ppl"))
        Profile.quantileBuckets(s2, "ppl").groupBy("bucket").count().count()
      }
      // incremental near-dup ingest: 3 id-ordered batches against a fresh
      // band store; admitted total must equal the one-shot keepFirst cut
      val store =
        java.nio.file.Files.createTempDirectory("graft_neardup_x30_").toString
      val b = docs.agg(min("doc_id"), max("doc_id")).first()
      val (lo, hi) = (b.getLong(0), b.getLong(1))
      val (cut1, cut2) = (lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3)
      var admitted = 0L
      Seq(
        docs.where(col("doc_id") <= cut1),
        docs.where(col("doc_id") > cut1 && col("doc_id") <= cut2),
        docs.where(col("doc_id") > cut2)).zipWithIndex.foreach {
        case (batch, i) =>
          bench(s"q_neardup_batch$i") {
            val n = Dedup.nearDupIncrementalBatch(batch, "doc_id", "text",
              store, threshold = 0.95, batchId = i.toLong).count()
            admitted += n; n
          }
      }
      counts("x_neardup_admitted") = admitted
      bench("q_neardup_oneshot") {
        Dedup.keepFirst(docs, "doc_id",
          Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.95))
          .count()
      }
      // hilbert vs z-order re-layout of the ×30 events + box telemetry
      val ev = lake.events.select("event_id", "user_id", "value")
      val outH =
        java.nio.file.Files.createTempDirectory("graft_hilb_").toString
      val outZ =
        java.nio.file.Files.createTempDirectory("graft_zord_").toString
      bench("q_hilbert_layout") {
        Layout.hilbertBy(ev, "user_id", "value", bits = 16, numFiles = 64)
          .write.mode("overwrite").parquet(outH); 64L
      }
      bench("q_zorder_layout") {
        Layout.zorderBy(ev, Seq("user_id", "value"), bits = 16,
          numFiles = 64).write.mode("overwrite").parquet(outZ); 64L
      }
      val vb = ev.agg(min("value"), max("value")).first()
      val (vlo, vhi) = (vb.getDouble(0), vb.getDouble(1))
      val (bLo, bHi) = (vlo + 0.45 * (vhi - vlo), vlo + 0.55 * (vhi - vlo))
      def touched(dir: String): Long =
        spark.read.parquet(dir)
          .select(col("value"), input_file_name().as("f"))
          .groupBy("f").agg(min("value").as("mn"), max("value").as("mx"))
          .where(col("mx") >= bLo && col("mn") <= bHi).count()
      results("x_hilbert_files_touched") = touched(outH).toDouble
      results("x_zorder_files_touched") = touched(outZ).toDouble
      docs.unpersist()
    }

    if (mode == "winidx") {
      windowIndexSection()
      emit(results, counts, sfDir); spark.stop(); return
    }
    // r11: cost-aware multi-column probe ordering on a skewed pair —
    // doc_id (unique per row: one probe value lives in ONE file, and the
    // probe is a cheap array scan) AND a corpus-common token on the
    // exploded index (lives in EVERY file, and the probe pays an explode
    // of every file's token array). Ordered+short-circuit probes doc_id
    // first, sees 1 candidate file, and SKIPS the token explode; the
    // fixed-order intersection pays it in full. Same located set.
    if (mode == "probeorder") {
      val name = "sb_po_docs"
      graft.Index.remove(spark, name)
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      bench("x_po_build") {
        val idx = graft.Index(spark, name, docs.schema, "parquet")
        idx.addIndex("doc_id")
        idx.addExplodedIndex("tok", "split(text, ' ')")
        idx.addFile(lake.documentsFiles: _*)
        idx.update()
        lake.documentsFiles.size.toLong
      }
      val idx = graft.Index.connect(spark, name)
      // the decontamination-shaped expensive side: 5k corpus tokens —
      // the fixed-order plan explodes every file's token array against
      // all 5k values; the ordered plan never runs that probe
      val hotToks: Seq[Any] = docs
        .select(explode(split(col("text"), " ")).as("t"))
        .groupBy("t").count().orderBy(col("count").desc, col("t"))
        .limit(5000).collect().map(_.getString(0)).toSeq
      val probe: Map[String, Seq[Any]] = Map(
        "tok" -> hotToks, "doc_id" -> Seq(77777L))
      // warm both paths once (JIT + FS cache), then measure
      spark.conf.set("spark.graft.probeOrderingEnabled", "false")
      idx.locateFiles(probe)
      spark.conf.set("spark.graft.probeOrderingEnabled", "true")
      idx.locateFiles(probe)
      var orderedFiles = Seq.empty[String]
      bench("x_po_ordered") {
        orderedFiles = idx.locateFiles(probe); orderedFiles.size.toLong
      }
      spark.conf.set("spark.graft.probeOrderingEnabled", "false")
      var fixedFiles = Seq.empty[String]
      bench("x_po_fixed") {
        fixedFiles = idx.locateFiles(probe); fixedFiles.size.toLong
      }
      spark.conf.unset("spark.graft.probeOrderingEnabled")
      // contract: ordered may only over-approximate (a skipped probe
      // widens the candidate set; residual filters keep rows exact)
      counts("x_po_superset_ok") =
        if (fixedFiles.toSet.subsetOf(orderedFiles.toSet)) 1L else 0L
      graft.Index.remove(spark, name)
      emit(results, counts, sfDir); spark.stop(); return
    }
    if (mode == "pq") {
      pqSection()
      emit(results, counts, sfDir); spark.stop(); return
    }
    if (mode == "curate") {
      curateSection()
      emit(results, counts, sfDir); spark.stop(); return
    }
    // r8 third wave: margin mining + embedding-space decontamination over
    // the ×30 embeddings — IVF-routed candidates in both directions for
    // ~1k queries against the full corpus, and the broadcast nested-loop
    // eval gate over all remaining rows (batch) plus its per-row
    // max-cosine expression twin (the streaming serving path).
    // r8 fourth wave: Misra-Gries heavy hitters vs the full groupBy over
    // a hot/long-tail item stream — 25% of ~15M token occurrences land on
    // the 31 hot tokens, the rest get near-unique suffixes (~11M distinct
    // keys), the shape where a corpus-wide top-k by groupBy shuffles the
    // whole key universe while the sketch exchanges tasks × capacity
    // counter rows. Overlap of the two top-k answers is recorded — the
    // hot keys sit far above the n/(capacity+1) guarantee, so the sketch
    // must find every one of them.
    if (mode == "hh") {
      // single-node wall time is CPU-bound (per-row string decode) and
      // slightly FAVORS the plain groupBy; the sketch's claim is the
      // exchange: tasks × capacity counter rows vs the full key universe.
      // Record shuffle-write bytes for both so the record states it.
      val hhShuffleBytes = new java.util.concurrent.atomic.AtomicLong
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val m = sc.stageInfo.taskMetrics
            if (m != null)
              hhShuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          }
        })
      def shuffleDelta[T](key: String)(body: => T): T = {
        Thread.sleep(1500) // listener bus is async; settle before snapshot
        val before = hhShuffleBytes.get()
        val r = body
        Thread.sleep(1500)
        results(key) = (hhShuffleBytes.get() - before) / 1e6 // MB
        r
      }
      val items = lake.documents.select(col("doc_id"),
          posexplode(split(lower(col("text")), " ")).as(Seq("__pos", "__tok")))
        .select(when(pmod(xxhash64(col("doc_id"), col("__pos")), lit(4)) === 0,
            concat(lit("hot"), pmod(xxhash64(col("__tok")), lit(20))))
          .otherwise(concat(col("__tok"), lit("#"),
            pmod(xxhash64(col("__pos"), col("doc_id")), lit(100000000L))
              .cast("string"))).as("item"))
      counts("x_items") = items.count()
      var sketchTop: Array[(String, Long, Long)] = null
      var exactTop: Map[String, Long] = null
      shuffleDelta("x_hh_sketch_shuffle_mb") { bench("x_hh_sketch") {
        val top = graft.operators.Profile
          .heavyHitters(items, "item", k = 40, capacity = 10000)
          .collect()
        sketchTop = top.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        top.length.toLong
      } }
      shuffleDelta("x_hh_groupby_shuffle_mb") { bench("x_hh_groupby") {
        val top = items.groupBy("item").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("item")).limit(40)
          .collect()
        exactTop = top.map(r => r.getString(0) -> r.getLong(1)).toMap
        top.length.toLong
      } }
      // every hot key (all 20 sit far above the n/(capacity+1) guarantee)
      // must be reported, and every reported envelope must bracket the
      // exact count
      // bench() records a failed body as -1 and keeps going — honor that
      // by skipping the cross-checks instead of NPE-ing on a null side
      if (sketchTop != null && exactTop != null) {
        counts("x_hh_top_overlap") =
          sketchTop.map(_._1).toSet.intersect(exactTop.keySet).size.toLong
        counts("x_hh_envelope_ok") = sketchTop.count { case (item, lo, hi) =>
          exactTop.get(item).forall(t => lo <= t && t <= hi)
        }.toLong
      }
      emit(results, counts, sfDir); spark.stop(); return
    }
    // r9 fifth wave: KLL quantile sketch vs Spark's exact percentile over
    // the ×30 lineitem price column (~18M doubles). The exact aggregate's
    // buffer holds the value MULTISET of its partition (and the merged
    // buffer the whole column); the sketch's buffer is k·log-bounded, so
    // the exchange and the peak memory are corpus-independent. Rank-error
    // telemetry is recorded against the exact answer — the sketch's
    // sketchy-regime claim is the envelope, not value equality.
    if (mode == "kll") {
      val kllShuffleBytes = new java.util.concurrent.atomic.AtomicLong
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val m = sc.stageInfo.taskMetrics
            if (m != null)
              kllShuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          }
        })
      def shuffleDelta[T](key: String)(body: => T): T = {
        Thread.sleep(1500)
        val before = kllShuffleBytes.get()
        val r = body
        Thread.sleep(1500)
        results(key) = (kllShuffleBytes.get() - before) / 1e6 // MB
        r
      }
      val prices = lake.lineitem.select(col("l_extendedprice").as("v")).cache()
      counts("x_kll_rows") = prices.count()
      val probs = Seq(0.1, 0.5, 0.9, 0.99)
      var est: Array[(Double, Double)] = null
      var exact: Array[Double] = null
      shuffleDelta("x_kll_sketch_shuffle_mb") { bench("x_kll_sketch") {
        val r = graft.operators.Profile
          .quantileSketch(prices, "v", probs, k = 1024).collect()
        est = r.map(x => (x.getDouble(0), x.getDouble(1)))
        r.length.toLong
      } }
      shuffleDelta("x_kll_exact_shuffle_mb") { bench("x_kll_exact") {
        val r = prices.agg(expr(
          s"percentile(v, array(${probs.mkString(", ")}))").as("q"))
          .collect()
        exact = r.head.getSeq[Double](0).toArray
        r.length.toLong
      } }
      if (est != null && exact != null) {
        // observed rank error per prob: |rank(est)/n - prob|, in per-mille
        val n = counts("x_kll_rows").toDouble
        val errs = est.map { case (p, v) =>
          val rank = prices.where(col("v") <= lit(v)).count()
          math.abs(rank / n - p)
        }
        counts("x_kll_rank_err_pm_max") = math.round(errs.max * 1000)
        // k=1024 uniform-capacity stack: conservative envelope 2%
        counts("x_kll_envelope_ok") = if (errs.max <= 0.02) 1L else 0L
      }
      prices.unpersist()
      emit(results, counts, sfDir); spark.stop(); return
    }
    // r9 drift family at ×30: the claim that matters is MONITOR COST IS
    // INDEPENDENT OF HISTORY — fold cost is per-batch, view cost is over
    // two bounded summaries; the batch rescan pays the full frame every
    // evaluation. 18M lineitem rows by l_returnflag (3 keys).
    if (mode == "drift") {
      val li = lake.lineitem.cache()
      counts("x_li_rows") = li.count()
      val work = java.nio.file.Files
        .createTempDirectory("scale_drift_").toString
      val ref = li.where(pmod(col("l_orderkey"), lit(2)) === 0)
      val cur = li.where(pmod(col("l_orderkey"), lit(2)) === 1)
      bench("x_drift_fold_ref") {
        graft.operators.Profile.quantileSketchIncrementalBatchByKey(
          ref.select("l_returnflag", "l_extendedprice"), "l_extendedprice",
          Seq("l_returnflag"), s"$work/ref", k = 8192, batchId = 0L); 9000000L
      }
      bench("x_drift_fold_cur") {
        graft.operators.Profile.quantileSketchIncrementalBatchByKey(
          cur.select("l_returnflag", "l_extendedprice"), "l_extendedprice",
          Seq("l_returnflag"), s"$work/cur", k = 8192, batchId = 0L); 9000000L
      }
      bench("q_drift_view_keyed") {
        graft.operators.Profile.driftByKeyFromSketchStores(spark,
          s"$work/ref", s"$work/cur", Seq("l_returnflag"), nBins = 10,
          k = 8192).count()
      }
      bench("q_drift_batch_rescan") {
        graft.operators.Profile.driftNumericByKey(ref, cur,
          "l_extendedprice", Seq("l_returnflag"), nBins = 10,
          approx = true, k = 8192).count()
      }
      // r10: the long-stream claim — per-batch cost (ingest AND view) is
      // FLAT in epoch count once the store folds aged epochs (r9 verdict
      // item #1). 240 one-batch epochs into a folding store
      // (maxEpochs = 16) vs an unfolding one, timed in thirds: the
      // folded store's per-epoch cost is the same in every third
      // (bounded bookkeeping: fold rewrites a CAPPED store every
      // maxEpochs/2 appends), while the unfolded store's grows — its
      // maxOverflowSegments consolidation rewrites the ENTIRE
      // ever-growing history, an O(epochs) term per rewrite that only
      // compounds. View time at the end: folded re-merges O(maxEpochs x
      // k log) rows, unfolded O(epochs x k log).
      val rng = new java.util.Random(7)
      val epochVals = (0 until 240).map { _ =>
        Seq.fill(1000)(rng.nextGaussian() * 100 + 500)
      }
      import spark.implicits._
      def ingestThirds(store: String, maxEpochs: Int): Seq[Double] =
        (0 until 3).map { third =>
          val (_, sec) = time {
            (third * 80 until (third + 1) * 80).foreach { e =>
              graft.operators.Profile.quantileSketchIncrementalBatch(
                epochVals(e).toDF("v"), "v", store, k = 1024,
                batchId = e.toLong, maxEpochs = maxEpochs)
            }
          }
          sec
        }
      val foldStore = s"$work/longstream_fold"
      val plainStore = s"$work/longstream_plain"
      val foldThirds = ingestThirds(foldStore, 16)
      results("x_longstream_fold_ingest_t1") = foldThirds(0)
      results("x_longstream_fold_ingest_t2") = foldThirds(1)
      results("x_longstream_fold_ingest_t3") = foldThirds(2)
      bench("x_longstream_fold_view_at240") {
        graft.operators.Profile.quantileSketchView(
          spark, foldStore, Seq(0.5, 0.99), k = 1024).count()
      }
      counts("x_longstream_fold_items") =
        new graft.store.SnapshotTable(spark, s"$foldStore/items")
          .read().map(_.count()).getOrElse(0L)
      val plainThirds = ingestThirds(plainStore, 0)
      results("x_longstream_plain_ingest_t1") = plainThirds(0)
      results("x_longstream_plain_ingest_t2") = plainThirds(1)
      results("x_longstream_plain_ingest_t3") = plainThirds(2)
      bench("x_longstream_plain_view_at240") {
        graft.operators.Profile.quantileSketchView(
          spark, plainStore, Seq(0.5, 0.99), k = 1024).count()
      }
      counts("x_longstream_plain_items") =
        new graft.store.SnapshotTable(spark, s"$plainStore/items")
          .read().map(_.count()).getOrElse(0L)
      li.unpersist()
      emit(results, counts, sfDir); spark.stop(); return
    }

    // r9 second wave at ×30: the data-quality gate over 18M lineitem rows,
    // robust outliers/winsorization (sketch vs exact cut points), the hourly
    // LOCF grid over 3M events / 45k users (~30M grid rows), and the fuzzy
    // edit-distance self-join over 150k doc prefixes with injected dist-1
    // perturbations (recall observable in counts, not asserted by hope).
    if (mode == "quality") {
      val li = lake.lineitem.cache()
      counts("x_li_rows") = li.count()
      val rules = Seq(
        graft.operators.Validate.notNull("l_orderkey"),
        graft.operators.Validate.inRange("l_quantity", 1, 50),
        graft.operators.Validate.inRange("l_discount", 0, 0.1),
        graft.operators.Validate.inSet("l_returnflag", Seq("A", "N", "R")),
        graft.operators.Validate.satisfies("price_pos",
          col("l_extendedprice") > 0))
      bench("x_validate_check") {
        graft.operators.Validate.check(li, rules).count()
      }
      bench("x_quarantine_valid") {
        graft.operators.Validate.quarantine(li, rules)
          .where(col("is_valid")).count()
      }
      bench("x_outliers_exact") {
        graft.operators.Profile.outliers(li, "l_extendedprice",
          Seq("l_returnflag"), z = 3.5).where(col("is_outlier")).count()
      }
      bench("x_outliers_sketch") {
        graft.operators.Profile.outliers(li, "l_extendedprice",
          Seq("l_returnflag"), z = 3.5, approx = true, k = 8192)
          .where(col("is_outlier")).count()
      }
      bench("x_winsorize_sketch") {
        graft.operators.Profile.winsorize(li, "l_extendedprice",
          Seq("l_returnflag"), approx = true, k = 8192)
          .agg(sum(col("l_extendedprice_wins"))).collect(); counts("x_li_rows")
      }
      li.unpersist()
      bench("x_resample_locf_hourly") {
        graft.operators.Resample.gridLocf(
          lake.events.select("user_id", "ts", "value"),
          Seq("user_id"), "ts", step = 3600L * 1000000L,
          valueCols = Seq("value"), maxGapTicks = Some(48)).count()
      }
      // fuzzy join: 40-char doc prefixes + a 1% perturbed twin at edit
      // distance exactly 1 (leading char replaced) — the found-pair count
      // must cover every injected twin; buckets stay small because the
      // corpus is non-self-similar by construction
      val basePrefix = lake.documents
        .select(col("doc_id"), substring(col("text"), 1, 40).as("t"))
        .where(length(col("t")) === 40)
      val injected = basePrefix.where(pmod(col("doc_id"), lit(100)) === 0)
        .select((col("doc_id") + lit(10000000L)).as("doc_id"),
          concat(lit("~"), substring(col("t"), 2, 39)).as("t"))
      val fuzzyIn = basePrefix.unionByName(injected).cache()
      counts("x_fuzzy_strings") = fuzzyIn.count()
      counts("x_fuzzy_injected") =
        basePrefix.where(pmod(col("doc_id"), lit(100)) === 0).count()
      bench("x_fuzzy_pairs_d1") {
        Dedup.editDistancePairs(fuzzyIn, "doc_id", "t", maxDist = 1, q = 4)
          .count()
      }
      fuzzyIn.unpersist()
      emit(results, counts, sfDir); spark.stop(); return
    }
    // r10: governance family — the snapshot diff's hash-vs-column shuffle
    // claim, the overlap estimate's join-free sketch path, and the
    // one-aggregate audits, all on the ×30 corpus.
    if (mode == "govern") {
      val governShuffleBytes = new java.util.concurrent.atomic.AtomicLong
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val m = sc.stageInfo.taskMetrics
            if (m != null)
              governShuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          }
        })
      def shuffleDelta[T](key: String)(body: => T): T = {
        Thread.sleep(1500)
        val before = governShuffleBytes.get()
        val r = body
        Thread.sleep(1500)
        results(key) = (governShuffleBytes.get() - before) / 1e6 // MB
        r
      }
      // snapshot diff over the 150k real-text docs: the column path
      // shuffles the text twice; the digest path shuffles id+16 bytes
      val docs = lake.documents.select("doc_id", "text", "lang")
      val oldDocs = docs.where(pmod(col("doc_id"), lit(7)) =!= 3)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(5)) === 0,
            concat(col("text"), lit(" [v1]"))).otherwise(col("text")))
      counts("x_docs_rows") = docs.count()
      var nCols = -1L; var nHash = -1L
      shuffleDelta("x_diff_columns_shuffle_mb") { bench("x_diff_columns") {
        nCols = graft.operators.Diff.snapshotDiff(
          oldDocs, docs, "doc_id", Seq("text", "lang")).count()
        nCols
      } }
      shuffleDelta("x_diff_hash_shuffle_mb") { bench("x_diff_hash") {
        nHash = graft.operators.Diff.snapshotDiff(
          oldDocs, docs, "doc_id", Seq("text", "lang"),
          hashCompare = true).count()
        nHash
      } }
      counts("x_diff_paths_agree") = if (nCols == nHash) 1L else 0L
      // corpus overlap on 18M-row lineitem partkeys split by orderkey
      // parity: exact = distinct+semi-join shuffles, sketch = two scans
      // and a two-sketch exchange
      val li = lake.lineitem.select("l_orderkey", "l_partkey")
      val a = li.where(pmod(col("l_orderkey"), lit(2)) === 0)
      val b = li.where(pmod(col("l_orderkey"), lit(2)) === 1)
      var exCommon = -1L; var skCommon = -1L
      shuffleDelta("x_overlap_exact_shuffle_mb") { bench("x_overlap_exact") {
        val r = graft.operators.Profile.overlapEstimate(
          a, b, "l_partkey", exact = true).collect().head
        exCommon = r.getLong(2); r.getLong(3)
      } }
      shuffleDelta("x_overlap_sketch_shuffle_mb") { bench("x_overlap_sketch") {
        val r = graft.operators.Profile.overlapEstimate(
          a, b, "l_partkey").collect().head
        skCommon = r.getLong(2); r.getLong(3)
      } }
      counts("x_overlap_exact_common") = exCommon
      counts("x_overlap_sketch_common") = skCommon
      // quantile transform over 18M prices: the exact path pays the
      // per-value counts + value-keyed join; the grid path is one
      // aggregate + a broadcast cut walk in the scan
      bench("x_qt_exact") {
        graft.operators.Profile.quantileTransform(
          lake.lineitem.select("l_orderkey", "l_extendedprice"),
          "l_extendedprice")
          .agg(sum("l_extendedprice_q")).collect(); 1L
      }
      bench("x_qt_sketch") {
        graft.operators.Profile.quantileTransform(
          lake.lineitem.select("l_orderkey", "l_extendedprice"),
          "l_extendedprice", approx = true, grid = 100)
          .agg(sum("l_extendedprice_q")).collect(); 1L
      }
      // multi-feature MI sweep: 2 features x 18M rows, one melted job
      bench("x_info_gain") {
        graft.operators.Profile.informationGain(
          lake.lineitem.withColumn("price_band",
            when(col("l_extendedprice") > 40000, "hi").otherwise("lo")),
          Seq("l_returnflag", "l_linestatus"), "price_band").count()
      }
      // per-key overlap: partkey universes per returnflag, key-grain
      // sketch join (no data-grain join)
      bench("x_overlap_by_key") {
        val liF = lake.lineitem
          .select("l_orderkey", "l_partkey", "l_returnflag")
        graft.operators.Profile.overlapEstimateByKey(
          liF.where(pmod(col("l_orderkey"), lit(2)) === 0),
          liF.where(pmod(col("l_orderkey"), lit(2)) === 1),
          Seq("l_returnflag"), "l_partkey").count()
      }
      // one-aggregate audits at the 18M-row grain
      bench("x_k_anonymity") {
        graft.operators.Validate.kAnonymity(lake.lineitem,
          Seq("l_returnflag", "l_linestatus", "l_quantity"), k = 5).count()
      }
      bench("x_split_leakage") {
        graft.operators.Validate.splitLeakage(
          graft.operators.Sampling.hashSplit(
            lake.events.select("event_id", "user_id"),
            "event_id", Seq(0.8, 0.1, 0.1)),
          "user_id", "split_id").count()
      }
      // the quality-ledger long-stream claim (the x_longstream_* drift
      // discipline applied to Validate.checkIncrementalBatch): 240
      // one-batch epochs into a folding (maxEpochs = 16) vs unfolding
      // ledger, ingest timed in thirds + final view cost + store rows.
      // The ledger's per-epoch state is #rules rows, so the unfolded
      // store's growth term is smaller than the sketch stores' — the
      // claim is the same (flat vs linear), the constants just start
      // lower.
      val work2 = java.nio.file.Files
        .createTempDirectory("govern_ledger_").toString
      val rng2 = new java.util.Random(11)
      val ledgerVals = (0 until 240).map { _ =>
        Seq.fill(1000)(rng2.nextGaussian() * 100 + 500)
      }
      val ledgerRules = Seq(
        graft.operators.Validate.inRange("v", 200, 800),
        graft.operators.Validate.notNull("v"))
      import spark.implicits._
      def ledgerThirds(store: String, maxEpochs: Int): Seq[Double] =
        (0 until 3).map { third =>
          val (_, sec) = time {
            (third * 80 until (third + 1) * 80).foreach { e =>
              graft.operators.Validate.checkIncrementalBatch(
                ledgerVals(e).toDF("v"), ledgerRules, store,
                batchId = e.toLong, maxEpochs = maxEpochs)
            }
          }
          sec
        }
      val lf = ledgerThirds(s"$work2/fold", 16)
      results("x_ledger_fold_ingest_t1") = lf(0)
      results("x_ledger_fold_ingest_t2") = lf(1)
      results("x_ledger_fold_ingest_t3") = lf(2)
      bench("x_ledger_fold_view_at240") {
        graft.operators.Validate.checkView(spark, s"$work2/fold").count()
      }
      counts("x_ledger_fold_rows") =
        new graft.store.SnapshotTable(spark, s"$work2/fold/items")
          .read().map(_.count()).getOrElse(0L)
      val lp = ledgerThirds(s"$work2/plain", 0)
      results("x_ledger_plain_ingest_t1") = lp(0)
      results("x_ledger_plain_ingest_t2") = lp(1)
      results("x_ledger_plain_ingest_t3") = lp(2)
      bench("x_ledger_plain_view_at240") {
        graft.operators.Validate.checkView(spark, s"$work2/plain").count()
      }
      counts("x_ledger_plain_rows") =
        new graft.store.SnapshotTable(spark, s"$work2/plain/items")
          .read().map(_.count()).getOrElse(0L)
      emit(results, counts, sfDir); spark.stop(); return
    }
    if (mode == "uncertainty") {
      // r11 wave: Poisson bootstrap at the x30 grain (18M values). The
      // scale claim is ONE-PASS-NESS: all B replicate sums accumulate in
      // a single scan whose exchange is B x partitions partial sums; the
      // alternative everyone writes first (one weighted scan per
      // replicate) is linear in B. Shuffle-byte deltas per phase.
      val unShuffleBytes = new java.util.concurrent.atomic.AtomicLong
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val m = sc.stageInfo.taskMetrics
            if (m != null)
              unShuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          }
        })
      def shuffleDelta[T](key: String)(body: => T): T = {
        Thread.sleep(1500)
        val before = unShuffleBytes.get()
        val r = body
        Thread.sleep(1500)
        results(key) = (unShuffleBytes.get() - before) / 1e6 // MB
        r
      }
      val li = lake.lineitem.select(
        (col("l_orderkey") * 8 + col("l_linenumber")).as("rid"),
        col("l_extendedprice").as("price"), col("l_returnflag"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      counts("x_li_rows") = li.count()
      shuffleDelta("x_bootstrap64_shuffle_mb") { bench("x_bootstrap_64") {
        val r = graft.operators.ModelEval.bootstrapMeanCI(
          li, "price", "rid", b = 64, seed = 11).head()
        counts("x_ci_width_1e3") = math.round(
          (r.getDouble(5) - r.getDouble(4)) * 1e3)
        r.getLong(1)
      } }
      shuffleDelta("x_bootstrap_bykey_shuffle_mb") {
        bench("x_bootstrap_bykey") {
          // collect(), not count(): count lets Catalyst prune the CI
          // aggregates and with them the ENTIRE weight computation (the
          // first sitting read a fantasy 3.5 s this way)
          graft.operators.ModelEval.bootstrapMeanCIByKey(
            li, "price", "rid", Seq("l_returnflag"), b = 64,
            seed = 11).collect().length.toLong
        }
      }
      // the linear-in-B alternative, measured at 4 replicates: one
      // weighted full scan per replicate (same md5 weights), so per-
      // replicate cost x 64 is the honest comparator
      shuffleDelta("x_scan4_shuffle_mb") { bench("x_bootstrap_4scan") {
        (1 to 4).foreach { b =>
          val u = (conv(substring(md5(concat_ws("#", lit(11L),
            col("rid").cast("string"), lit(b))), 1, 8), 16, 10)
            .cast("long") + lit(1L)).cast("double") / lit(4294967297.0)
          val w = Seq(0.3678794411714423, 0.7357588823428846,
            0.9196986029286058, 0.9810118431238462, 0.9963401531726563,
            0.9994058151824183, 0.9999167588507119, 0.9999897508033253,
            0.9999988747974512).zipWithIndex.foldRight(lit(9.0)) {
              case ((c, k), acc) => when(u <= lit(c), lit(k.toDouble))
                .otherwise(acc) }
          li.agg((sum(w * col("price")) / sum(w)).as("m")).head()
        }
        4L
      } }
      emit(results, counts, sfDir); spark.stop(); return
    }

    if (mode == "ego") {
      // r12 wave: the graph SERVING path at the x30 grain — k-hop
      // egonet + seeded fan-out sampling through the src/dst-indexed
      // edge lake. The scale claim is the per-hop READ: a key-local
      // frontier locates a few of the lake's files through the index
      // tables, where the no-index engine re-scans every edge file per
      // hop. Located/total per hop is recorded alongside the walls.
      bench("x_ego_idx_build") {
        lake.edgesIdx; lake.edgesFiles.size.toLong
      }
      bench("x_egonet_2hop") {
        graft.operators.Graph.neighborhood(lake.edgesIdx, "src", "dst",
          Seq(3L, 7L), hops = 2, direction = "both").count()
      }
      graft.operators.Graph.lastNeighborhoodProbes.zipWithIndex.foreach {
        case ((l, t), i) =>
          counts(s"x_egonet_hop${i + 1}_located") = l.toLong
          counts(s"x_egonet_hop${i + 1}_total") = t.toLong
      }
      bench("x_sample_2hop_f10x5") {
        graft.operators.Graph.sampleNeighbors(lake.edgesIdx, "src", "dst",
          Seq(3L, 7L), fanouts = Seq(10, 5)).count()
      }
      graft.operators.Graph.lastNeighborhoodProbes.zipWithIndex.foreach {
        case ((l, t), i) =>
          counts(s"x_sample_hop${i + 1}_located") = l.toLong
      }
      bench("x_sample_weighted_2hop") {
        graft.operators.Graph.sampleNeighbors(lake.edgesIdx, "src", "dst",
          Seq(3L, 7L), fanouts = Seq(10, 5), weightCol = Some("w"))
          .count()
      }
      // r13: heterogeneous metapath sampling (customer→order→supplier,
      // one edge type per hop) — the per-type src banding must keep the
      // per-hop locate pruned without any per-type index machinery
      bench("x_sample_metapath") {
        graft.operators.Graph.sampleMetapath(lake.edgesIdx, "src", "dst",
          "etype", Seq(3L, 7L), path = Seq(("c2o", 10), ("o2s", 5)))
          .count()
      }
      graft.operators.Graph.lastNeighborhoodProbes.zipWithIndex.foreach {
        case ((l, t), i) =>
          counts(s"x_metapath_hop${i + 1}_located") = l.toLong
          counts(s"x_metapath_hop${i + 1}_total") = t.toLong
      }
      bench("x_induce_from_egonet") {
        val ns = graft.operators.Graph.neighborhood(lake.edgesIdx,
          "src", "dst", Seq(3L, 7L), hops = 2, direction = "both")
          .select("node").collect().map(_.getLong(0)).toSeq
        graft.operators.Graph.induceEdges(lake.edgesIdx, "src", "dst", ns)
          .count()
      }
      counts("x_induce_located") =
        graft.operators.Graph.lastNeighborhoodProbes.head._1.toLong
      // the no-index comparison: the same BFS where every hop scans the
      // whole edge lake (bounded driver frontier, identical semantics)
      bench("x_egonet_fullscan") {
        val all = spark.read.parquet(lake.edgesFiles: _*)
        var visited = Set[Long](3L, 7L)
        var frontier: Seq[Long] = Seq(3L, 7L)
        (1 to 2).foreach { _ =>
          if (frontier.nonEmpty) {
            val next = all.where(col("src").isin(frontier: _*))
              .select(col("dst").as("n"))
              .unionAll(all.where(col("dst").isin(frontier: _*))
                .select(col("src").as("n")))
              .distinct().collect().map(_.getLong(0)).toSeq
            val fresh = next.filterNot(visited.contains)
            visited ++= fresh
            frontier = fresh
          }
        }
        visited.size.toLong
      }
      emit(results, counts, sfDir); spark.stop(); return
    }

    if (mode == "egoserve") {
      // r13: the graph-serving crossover, SERVE-SHAPED index (r12 verdict
      // item #1). The x300 run exposed the regular dual index as the
      // wrong serving shape: its locate explodes every stored distinct
      // key (~260M at x300), so the probe itself dominated the egonet
      // wall (26.5 s vs 2.7 s full scan). Here the same lake carries
      // range(src) + bloom(dst) — O(files) index rows — so the per-hop
      // locate is a 512-row scan and the read stays 1-3 files/hop. The
      // crossover claim: indexed wall < full-scan wall on the same seeds.
      bench("x_serveidx_build") {
        lake.edgesServeIdx; lake.edgesFiles.size.toLong
      }
      bench("x_egonet_2hop_serve") {
        graft.operators.Graph.neighborhood(lake.edgesServeIdx, "src",
          "dst", Seq(3L, 7L), hops = 2, direction = "both").count()
      }
      graft.operators.Graph.lastNeighborhoodProbes.zipWithIndex.foreach {
        case ((l, t), i) =>
          counts(s"x_egonet_hop${i + 1}_located") = l.toLong
          counts(s"x_egonet_hop${i + 1}_total") = t.toLong
      }
      bench("x_sample_2hop_serve") {
        graft.operators.Graph.sampleNeighbors(lake.edgesServeIdx, "src",
          "dst", Seq(3L, 7L), fanouts = Seq(10, 5)).count()
      }
      bench("x_metapath_serve") {
        graft.operators.Graph.sampleMetapath(lake.edgesServeIdx, "src",
          "dst", "etype", Seq(3L, 7L), path = Seq(("c2o", 10), ("o2s", 5)))
          .count()
      }
      bench("x_induce_serve") {
        val ns = graft.operators.Graph.neighborhood(lake.edgesServeIdx,
          "src", "dst", Seq(3L, 7L), hops = 2, direction = "both")
          .select("node").collect().map(_.getLong(0)).toSeq
        graft.operators.Graph.induceEdges(lake.edgesServeIdx, "src",
          "dst", ns).count()
      }
      counts("x_induce_located") =
        graft.operators.Graph.lastNeighborhoodProbes.head._1.toLong
      // identical no-index BFS as mode "ego" (same seeds, same semantics)
      bench("x_egonet_fullscan") {
        val all = spark.read.parquet(lake.edgesFiles: _*)
        var visited = Set[Long](3L, 7L)
        var frontier: Seq[Long] = Seq(3L, 7L)
        (1 to 2).foreach { _ =>
          if (frontier.nonEmpty) {
            val next = all.where(col("src").isin(frontier: _*))
              .select(col("dst").as("n"))
              .unionAll(all.where(col("dst").isin(frontier: _*))
                .select(col("src").as("n")))
              .distinct().collect().map(_.getLong(0)).toSeq
            val fresh = next.filterNot(visited.contains)
            visited ++= fresh
            frontier = fresh
          }
        }
        visited.size.toLong
      }
      emit(results, counts, sfDir); spark.stop(); return
    }

    if (mode == "graph") {
      // r11 wave: PageRank at the x30 grain. The scale claim is the
      // iteration's exchange shape: after the one-time edge
      // materialization, every iteration shuffles the NODE-grain rank
      // frame plus a map-side-combined dst-grain aggregate — never the
      // edge frame. Shuffle bytes per phase make that inspectable.
      val grShuffleBytes = new java.util.concurrent.atomic.AtomicLong
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val m = sc.stageInfo.taskMetrics
            if (m != null)
              grShuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          }
        })
      def shuffleDelta[T](key: String)(body: => T): T = {
        Thread.sleep(1500)
        val before = grShuffleBytes.get()
        val r = body
        Thread.sleep(1500)
        results(key) = (grShuffleBytes.get() - before) / 1e6 // MB
        r
      }
      // supplier->customer "served" graph: x30 = 18M lineitem rows down
      // to the distinct bipartite edge set (suppliers offset so the key
      // universes cannot collide); customers are all dangling
      val edges = lake.lineitem
        .join(lake.orders, col("l_orderkey") === col("o_orderkey"))
        .select((col("l_suppkey") + lit(10000000L)).as("src"),
          col("o_custkey").as("dst"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      bench("x_edges_build") { edges.count() }
      shuffleDelta("x_degrees_shuffle_mb") { bench("x_degrees") {
        graft.operators.Graph.degrees(edges, "src", "dst").count()
      } }
      // r11 late add: HITS on the same bipartite graph — two node-grain
      // half-steps per iteration, edge frame pinned once per direction
      shuffleDelta("x_hits_4it_shuffle_mb") { bench("x_hits_4it") {
        val hs = graft.operators.Graph.hits(edges, "src", "dst", iters = 4)
        val top = hs.orderBy(col("hub").desc, col("node")).limit(1).head()
        counts("x_hits_top_hub") = top.getLong(0)
        hs.count()
      } }
      // iteration sweep: the per-iteration marginal cost (wall and
      // shuffle) is the scale claim — it must be node-grain-flat, with
      // the edge-grain costs paid once per call (eDeg repartition) and
      // once per sitting (JIT/codegen warm-up rides the first call)
      Seq(1, 3, 5, 9).foreach { it =>
        shuffleDelta(s"x_pagerank_${it}it_shuffle_mb") {
          bench(s"x_pagerank_${it}it") {
            val pr = graft.operators.Graph.pageRank(edges, "src", "dst",
              iters = it)
            if (it == 5) {
              val top = pr.orderBy(col("pagerank").desc, col("node"))
                .limit(1).head()
              counts("x_pr_top_node") = top.getLong(0)
              counts("x_pr_mass_1e9") = math.round(
                pr.agg(sum("pagerank")).head().getDouble(0) * 1e9)
            }
            pr.count()
          }
        }
      }
      emit(results, counts, sfDir); spark.stop(); return
    }

    if (mode == "retrieval") {
      // r11 wave: BM25 retrieval + fingerprint certificate + rank-sum
      // AUC at the x30 grain, with shuffle-byte deltas where the scale
      // claim IS a shuffle bound.
      val retrShuffleBytes = new java.util.concurrent.atomic.AtomicLong
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val m = sc.stageInfo.taskMetrics
            if (m != null)
              retrShuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          }
        })
      def shuffleDelta[T](key: String)(body: => T): T = {
        Thread.sleep(1500)
        val before = retrShuffleBytes.get()
        val r = body
        Thread.sleep(1500)
        results(key) = (retrShuffleBytes.get() - before) / 1e6 // MB
        r
      }
      import spark.implicits._
      val docs = lake.documents.select("doc_id", "text", "lang")
      counts("x_docs_rows") = docs.count()
      // an 8-query batch whose terms come FROM the corpus (4 tokens off
      // 8 deterministic docs), so every query has real matches; the
      // claim under test is the pruned postings scan (query tokens
      // broadcast below the exchange) vs the relational fallback that
      // shuffles the full corpus-grain postings
      val qTexts = docs.orderBy("doc_id").limit(8)
        .select(concat_ws(" ",
          slice(split(lower(col("text")), " "), 1, 4)).as("qtext"))
        .collect().map(_.getString(0))
      val queries = qTexts.zipWithIndex
        .map { case (t, i) => (i + 1, t) }.toSeq.toDF("query_id", "qtext")
      // warm the page cache once so pruned-vs-fallback compares plans,
      // not disk state (the first text read otherwise penalizes
      // whichever variant runs first)
      bench("x_warm_scan") {
        docs.agg(sum(length(col("text")))).collect(); docs.count()
      }
      shuffleDelta("x_bm25_pruned_shuffle_mb") { bench("x_bm25_8q_top10") {
        graft.operators.TextAnalysis.bm25TopK(docs, "doc_id", "text",
          queries, "query_id", "qtext", k = 10).count()
      } }
      shuffleDelta("x_bm25_fallback_shuffle_mb") { bench("x_bm25_fallback") {
        graft.operators.TextAnalysis.bm25TopK(docs, "doc_id", "text",
          queries, "query_id", "qtext", k = 10, maxQueryTerms = 0).count()
      } }
      // equality certificate vs change report on the SAME corpus: the
      // fingerprint's only exchange is partial-aggregate state; the
      // digest diff (the cheapest change REPORT) still shuffles
      // id+16 bytes per row on both sides
      shuffleDelta("x_fingerprint_shuffle_mb") { bench("x_fingerprint") {
        graft.operators.Diff.corpusFingerprint(docs,
          Seq("doc_id", "text", "lang")).count()
      } }
      val oldDocs = docs.where(pmod(col("doc_id"), lit(7)) =!= 3)
      shuffleDelta("x_diff_digest_shuffle_mb") { bench("x_diff_digest") {
        graft.operators.Diff.snapshotDiff(oldDocs, docs, "doc_id",
          Seq("text", "lang"), hashCompare = true).count()
      } }
      // rank-sum AUC over 18M rows with a 100-value score alphabet:
      // the per-distinct-score collapse keeps the unpartitioned rank
      // walk at 100 rows no matter the corpus
      val liScored = lake.lineitem.select(
        (pmod(col("l_orderkey") * 37, lit(100)).cast("double")
          / lit(100.0)).as("score"),
        when(pmod(col("l_orderkey") * 37, lit(100))
            + lit(2) * pmod(col("l_orderkey") * 29, lit(49)) >= 110, 1)
          .otherwise(0).as("label"))
      bench("x_auc_18m") {
        val r = graft.operators.ModelEval.aucRoc(
          liScored, "score", "label").head()
        counts("x_auc_times_1e6") = math.round(r.getDouble(2) * 1e6)
        r.getLong(0)
      }
      emit(results, counts, sfDir); spark.stop(); return
    }
    if (mode == "mine") {
      val emb = lake.embeddings.cache()
      counts("x_vectors") = emb.count()
      val src = emb.where(pmod(col("vec_id"), lit(150)) === 0)
      val tgt = emb.where(pmod(col("vec_id"), lit(150)) =!= 0)
      var csH: graft.functions.CentroidSet = null
      bench("x_mine_train") {
        csH = Similarity.trainCentroidSet(tgt, "vec_id", "embedding",
          nCells = 64, iters = 1)._1
        csH.size.toLong
      }
      bench("q_margin_mine_ivf") {
        Similarity.marginMine(src, tgt, "vec_id", "embedding", k = 8,
          minMargin = 1.0, nCells = 64, nProbe = 8,
          quantizer = Some(csH)).count()
      }
      val evalSide = emb.where(pmod(col("vec_id"), lit(150)) === 1)
      val trainSide = emb.where(pmod(col("vec_id"), lit(150)) =!= 1)
      bench("q_semantic_decon_batch") {
        Similarity.semanticDecontaminate(trainSide, evalSide,
          "vec_id", "embedding", threshold = 0.4).count()
      }
      bench("q_semantic_decon_exprgate") {
        // the streaming twin's per-row codegen'd gate, run over the same
        // batch frame: one broadcast walk per row, zero joins
        val rows = evalSide.select(col("embedding")).collect()
        val cs = new graft.functions.CentroidSet(
          rows.map(_.getSeq[Float](0).toArray))
        trainSide.where(!coalesce(
          graft.functions.VectorOps.maxCosineToSet(col("embedding"), cs) >=
            lit(0.4), lit(false))).count()
      }
      emb.unpersist()
      emit(results, counts, sfDir); spark.stop(); return
    }

    // ---- build-side: index construction cost over the ×30 lake -----------
    // (VERDICT r4 item 6: query-side crossover is measured; pin the
    // consolidation/segmentation claims the same way.) Wall time + total
    // shuffle-write bytes for (1) a cold full build over all orders files,
    // (2) an incremental update registering ONE new file — the O(batch)
    // claim: the overflow tables take the file as one appended segment and
    // the data read is the new file alone; only the main index table (one
    // small row per file) is rewritten, by the update's last batch.
    if (mode == "build") {
      val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val m = sc.stageInfo.taskMetrics
          if (m != null) shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
      spark.sparkContext.addSparkListener(listener)
      def shuffleDelta[T](key: String)(body: => T): T = {
        Thread.sleep(1500) // listener bus is async; settle before snapshot
        val before = shuffleBytes.get()
        val r = body
        Thread.sleep(1500)
        results(key) = (shuffleBytes.get() - before) / 1e6 // MB
        r
      }
      val allFiles = lake.ordersFiles
      val (head, tail) = (allFiles.dropRight(1), allFiles.last)
      graft.Index.remove(spark, "orders_build_bench")
      val bidx = graft.Index(spark, "orders_build_bench",
        lake.orders.schema, "parquet")
      bidx.addIndex("o_custkey")
      bidx.addRangeIndex("o_orderkey")
      bidx.addComputedIndex("o_month", "cast(month(o_orderdate) as bigint)")
      bidx.addFile(head: _*)
      counts("b_files_full") = head.size.toLong
      shuffleDelta("b_build_full_shuffle_mb") {
        bench("b_build_full") { bidx.update(); bidx.files.size.toLong }
      }
      bidx.addFile(tail)
      shuffleDelta("b_build_incr_shuffle_mb") {
        bench("b_build_incr") { bidx.update(); bidx.files.size.toLong }
      }
      // a probe through the just-built index proves the build is usable
      bench("b_probe_after_build") {
        bidx.query(Map("o_custkey" -> (1L to 20L))).count()
      }
      graft.Index.remove(spark, "orders_build_bench")
      spark.sparkContext.removeSparkListener(listener)
      emit(results, counts, sfDir); spark.stop(); return
    }

    // ---- (a) indexed vs fullscan crossover: key-local probe --------------
    val maxCust = lake.customers.agg(max("c_custkey")).first().getLong(0)
    // a SELECTIVE key-local probe (one customer band of 64, high-balance) —
    // the access pattern file pruning exists for. Persisted: the probe
    // feeds the probe-value collection AND the join on both the indexed and
    // fullscan sides — caching it once is what a real pipeline does and
    // keeps the comparison about the ORDERS bytes.
    val probe = lake.customers
      .where(col("c_custkey") <= maxCust / 64 && col("c_acctbal") > 7500)
      .select(col("c_custkey").as("o_custkey"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    counts("x_probe_keys") = probe.count()
    // The joined result aggregates PAYLOAD columns — a bare count() would
    // let the parquet scan read only the join key and hide exactly the
    // bytes pruning exists to save. Each join is measured cold then warm:
    // the cold indexed run pays the one-time index-table cache load that
    // every later query shares.
    def payloadAgg(joined: org.apache.spark.sql.DataFrame): Long =
      joined
        .agg(sum("o_totalprice"), countDistinct("o_orderpriority"), count(lit(1)))
        .first().getLong(2)
    bench("x_join_indexed") {
      payloadAgg(lake.ordersIdx.join(probe, Seq("o_custkey")))
    }
    bench("x_join_indexed_warm") {
      payloadAgg(lake.ordersIdx.join(probe, Seq("o_custkey")))
    }
    bench("x_join_fullscan") {
      payloadAgg(spark.read.parquet(lake.ordersFiles: _*).join(probe, Seq("o_custkey")))
    }
    bench("x_join_fullscan_warm") {
      payloadAgg(spark.read.parquet(lake.ordersFiles: _*).join(probe, Seq("o_custkey")))
    }
    spark.conf.set("spark.graft.metricsEnabled", "true")
    lake.ordersIdx.join(probe, Seq("o_custkey")).count()
    IndexJoin.lastMetrics.foreach { m =>
      results("x_files_read_frac") =
        if (m.totalFiles == 0) 1.0 else m.locatedFiles.toDouble / m.totalFiles
      results("x_bytes_pruned_pct") = m.pct
    }
    spark.conf.set("spark.graft.metricsEnabled", "false")

    if (mode == "joins") { emit(results, counts, sfDir); spark.stop(); return }

    // ---- (b) near-dup on a non-self-similar corpus -----------------------
    val nDocs = lake.documents.count()
    counts("x_docs") = nDocs
    bench("q_dedup_minhash") {
      Dedup.minhashPairs(lake.documents, "doc_id", "text", threshold = 0.95).count()
    }
    // n=5 at 150k docs: the char n-gram UNIVERSE must outgrow the corpus
    // for prefix filtering to stay selective (37^3 ≈ 50k grams saturates —
    // every "rare" gram still hits ~120 docs and candidates go quadratic;
    // 37^5 ≈ 69M keeps rare grams genuinely rare). Same guidance as the
    // ngramJaccardPairs scaladoc.
    bench("q_dedup_ngram") {
      Dedup.ngramJaccardPairs(lake.documents, "doc_id", "text",
        threshold = 0.9, n = 5).count()
    }
    bench("q_dedup_simhash") {
      Dedup.simhashPairs(lake.documents, "doc_id", "text").count()
    }
    // transitive closure over the near-dup pair graph: sweeps shuffle the
    // PAIR frame (~injected-pair count), never the corpus — wall time here
    // is pair generation + O(log diameter) label sweeps
    bench("q_dedup_clusters") {
      Dedup.duplicateClusters(
        Dedup.minhashPairs(lake.documents, "doc_id", "text", threshold = 0.95)
      ).count()
    }
    // exact-substring windows: one row per token position (corpus token
    // count), one hash shuffle; the non-self-similar corpus keeps output
    // to genuinely duplicated runs
    bench("q_dedup_substring") {
      Dedup.sharedWindowPairs(lake.documents, "doc_id", "text",
        windowTokens = 10).count()
    }
    bench("q_dedup_simhash_near") {
      Dedup.simhashNearPairs(lake.documents, "doc_id", "text", maxHamming = 3).count()
    }
    // span removal at 150k docs: dup-window occurrences flow as INTERVALS
    // (r6 rewrite — no per-position explode, no token-grain reassembly
    // shuffle); wall time must track duplicated volume, not corpus size
    bench("q_span_removal") {
      Dedup.removeDuplicateSpans(lake.documents.select("doc_id", "text"),
        "doc_id", "text", windowTokens = 10)
        .agg(sum(when(col("n_removed") > 0, 1L).otherwise(0L))).first().getLong(0)
    }
    // surgical cross-corpus span decontamination at 150k docs: bad-window
    // set is the 30k-doc eval side's distinct hashes; occurrence-grain
    // intervals, per-row gap reassembly (r6)
    bench("q_contaminated_spans") {
      val train = lake.documents.where(pmod(col("doc_id"), lit(5)) =!= 0)
        .select("doc_id", "text")
      val ev = lake.documents.where(pmod(col("doc_id"), lit(5)) === 0)
        .select("doc_id", "text")
      Dedup.removeContaminatedSpans(train, ev, "doc_id", "text",
        windowTokens = 10)
        .agg(sum(when(col("n_removed") > 0, 1L).otherwise(0L)))
        .first().getLong(0)
    }
    // corpus-wide paragraph dedup over synthesized pages: one occurrence-
    // grain shuffle keyed by paragraph hash, min-struct winners (r6)
    bench("q_paragraph_dedup") {
      val pages = lake.documents.select(col("doc_id"),
        concat(lit("shared intro "), pmod(col("doc_id"), lit(7)), lit("\n"),
          col("text"),
          lit("\nshared outro "), pmod(col("doc_id"), lit(3))).as("page"))
      Dedup.dedupParagraphs(pages, "doc_id", "page")
        .agg(sum(col("n_removed"))).first().getLong(0)
    }
    // boilerplate strip over synthesized multi-line pages (header/footer
    // shared corpus-wide — maximal line-join skew): corpus is never
    // re-assembled; strip lists ride a doc-grain broadcast join
    bench("q_strip_lines") {
      val pages = lake.documents.select(col("doc_id"),
        concat(lit("shared corpus header\n"), col("text"),
          lit("\nfooter for "), pmod(col("doc_id"), lit(7))).as("page"))
      Dedup.stripBoilerplate(pages, "doc_id", "page")
        .agg(count(lit(1))).first().getLong(0)
    }
    // per-doc contamination fraction at 150k docs (r6)
    bench("q_contamination_stats") {
      val train = lake.documents.where(pmod(col("doc_id"), lit(5)) =!= 0)
      val ev = lake.documents.where(pmod(col("doc_id"), lit(5)) === 0)
      Dedup.crossContaminationStats(train, ev, "doc_id", "text",
        windowTokens = 10)
        .agg(sum(when(col("n_contaminated") > 0, 1L).otherwise(0L)))
        .first().getLong(0)
    }
    // per-doc TF-IDF keyword cut at 150k docs (r6)
    bench("q_tfidf") {
      graft.operators.TextAnalysis.tfidfKeywords(
        lake.documents, "doc_id", "text", k = 5).count()
    }
    // corpus vocabulary: one hash-agg shuffle of (gram, partial count)
    bench("q_vocab_bigram") {
      graft.operators.TextAnalysis.vocabulary(
        lake.documents, "text", n = 2, minCount = 2).count()
    }
    // shard assignment: one shuffle + per-shard sorts (64 shards)
    bench("q_shard_assign") {
      graft.operators.Sampling.shardAssign(
        lake.documents.select("doc_id"), "doc_id", 64)
        .agg(max("shard_pos")).first().getLong(0)
    }
    bench("q_ann_ivf_topk") {
      val emb = lake.embeddings
      Similarity.ivfTopK(emb, emb.where(col("vec_id") < 100), "vec_id",
        "embedding", k = 5).count()
    }
    pqSection()

    // ---- time-series shapes at 3M events ---------------------------------
    // trailing-hour rolling features: one per-key exchange+sort evaluates
    // all five frames (r6)
    bench("q_rolling_stats") {
      val clicks = lake.events.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts", "value")
      graft.operators.Rolling.trailingStats(clicks, Seq("user_id"), "ts",
        "value", rangeBack = 3600L * 1000000L, tieCols = Seq("event_id"))
        .agg(max(col("roll_cnt"))).first().getLong(0)
    }
    // r7: hot-key rolling — 1/3 of 3M events remapped onto ONE user so the
    // single-window form serializes that key's sort in one task while the
    // bucketed form caps per-task work at one time bucket
    val hotClicks = lake.events.where(col("event_type") === "click")
      .select(when(pmod(col("event_id"), lit(3)) === 0, lit(1L))
        .otherwise(col("user_id")).as("user_id"),
        col("event_id"), col("ts"), col("value"))
    bench("q_rolling_hotkey_single") {
      graft.operators.Rolling.trailingStats(hotClicks, Seq("user_id"), "ts",
        "value", rangeBack = 3600L * 1000000L, tieCols = Seq("event_id"))
        .agg(max(col("roll_cnt"))).first().getLong(0)
    }
    bench("q_rolling_hotkey_bucketed") {
      graft.operators.Rolling.trailingStatsBucketed(hotClicks, Seq("user_id"),
        "ts", "value", rangeBack = 3600L * 1000000L,
        bucketWidth = 4L * 3600L * 1000000L, tieCols = Seq("event_id"))
        .agg(max(col("roll_cnt"))).first().getLong(0)
    }
    // r7: perplexity LM — train on the 150k-doc corpus (one gram shuffle +
    // bounded top-N collect), then score every doc with the codegen'd
    // one-walk expression off a broadcast model
    var lmHolder: graft.functions.UnigramLm = null
    bench("q_perplexity_train") {
      lmHolder = graft.operators.TextAnalysis.trainUnigramLm(
        lake.documents, "text", topN = 50000)
      lmHolder.size.toLong
    }
    bench("q_perplexity_score") {
      val bc = spark.sparkContext.broadcast(lmHolder)
      lake.documents.select(
          graft.functions.NgramLm.perplexity(bc)(col("text")).as("p"))
        .agg(avg("p")).first().getDouble(0).toLong
    }
    windowIndexSection()

    bench("q_asof_join") {
      val clicks = lake.events.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val views = lake.events.where(col("event_type") === "view")
        .groupBy("user_id", "ts").agg(max("value").as("state_val"))
      AsOfJoin.asOf(clicks, views, Seq("user_id"), "ts", "ts",
        valueCols = Seq("state_val"), rightTsAlias = "state_ts").count()
    }
    bench("q_temporal_latest") {
      lake.eventsIdx.query(Map("user_id" -> (1L to 50L))).count()
    }
    bench("q_sql_range") {
      spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
      lake.ordersIdx
      val top = lake.orders.agg(max("o_orderkey")).first().getLong(0)
      spark.sql(
        s"""SELECT o_orderkey, o_custkey FROM graft.orders_idx
            WHERE o_orderkey BETWEEN ${top - 2000} AND $top""").count()
    }

    emit(results, counts, sfDir)
    spark.stop()
  }

  private def emit(
      results: scala.collection.mutable.LinkedHashMap[String, Double],
      counts: scala.collection.mutable.LinkedHashMap[String, Long],
      sfDir: String): Unit = {
    val total = results.values.sum
    val qs = results.map { case (k, v) => "\"" + k + f"""":$v%.3f""" }
      .mkString("{", ",", "}")
    val cs = counts.map { case (k, v) => "\"" + k + s"""":$v""" }
      .mkString("{", ",", "}")
    println(f"""{"metric":"scale_total","value":$total%.3f,"unit":"sec","queries":$qs%s,"rows":$cs%s,"sf":"$sfDir%s"}""")
  }
}
