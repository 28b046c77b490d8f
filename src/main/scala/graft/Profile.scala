package graft

import org.apache.spark.sql.SparkSession

/** Builder tooling: time a single named query (or ad-hoc stage probes)
  * at a given SF dir. Usage: graft.Profile <sfDir> <queryName>... */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = args.drop(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalScratch.configure(SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false"), "profile")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"$label%-24s ${(System.nanoTime() - t0) / 1e9}%8.2fs")
      r
    }
    names.foreach {
      // phase breakdown of the stateless LM pipeline (train/plan/score)
      case "lm_phases" =>
        val docs = graft.queries.Tables.documents(spark, sfDir)
        val (u, b) = time("lm:train")(graft.operators.TextAnalysis.lmTables(docs))
        val df = time("lm:plan")(
          graft.operators.TextAnalysis.lmScoreStateless(docs, u, b))
        time("lm:score")(df.count())
      // phase breakdown of the PQ pipeline (train/encode+rank)
      case "pq_phases" =>
        val emb = graft.queries.Tables.embeddings(spark, sfDir)
        val (cb, dim, _) = time("pq:train")(
          graft.operators.Similarity.pqTrain(emb, 8, 256, iters = 1))
        graft.functions.PqOps.register(spark)
        // serve phase reuses the trained model (pqTopK would retrain)
        time("pq:serve") {
          val (qid, dot, nrm) =
            graft.operators.Similarity.adcTables(emb, cb, dim, 8, 256)
          val coded = emb.select(org.apache.spark.sql.functions.col("vec_id"),
            graft.functions.PqOps.encode(
              org.apache.spark.sql.functions.col("embedding"), cb, 8, 256)
              .as("code"))
          graft.operators.Similarity.pqRescore(emb,
            graft.operators.Similarity.pqRank(coded, qid, dot, nrm, 8, 256, 600),
            10).count()
        }
      // phase breakdown of the winnow planted-twin gate (sketch/pairs/
      // eligibility) — where do q_near_dup_winnow's seconds go?
      case "winnow_phases" =>
        import org.apache.spark.sql.functions._
        val docs = graft.queries.Tables.documents(spark, sfDir)
          .select("doc_id", "text")
        val feats = time("w:sketch")(
          graft.operators.Dedup.winnowFeatures(docs).localCheckpoint())
        val sample = feats.orderBy("doc_id").limit(500)
        val corpus = feats.unionByName(sample.select(
          (col("doc_id") + lit(10000000L)).as("doc_id"), col("fps")))
        time("w:pairs")(graft.operators.Dedup.winnowPairsFromFeatures(
          corpus, 5, maxPostings = 64).count())
        time("w:eligible") {
          val rare = corpus.select(explode(col("fps")).as("fp"))
            .groupBy("fp").agg(count(lit(1)).as("df"))
            .filter(col("df") <= 64)
          sample.select(col("doc_id"), explode(col("fps")).as("fp"))
            .join(rare, "fp").groupBy("doc_id")
            .agg(count(lit(1)).as("n_rare"))
            .filter(col("n_rare") >= 5).count()
        }
      // measured recall@10 of every approximate serving family at its
      // real operating defaults — the tuning view behind the three
      // q_*_recall_envelope gates
      case "recall_probe" =>
        Seq(
          "ivf" -> graft.operators.Ingest
            .ivfRecallMeasured(spark, sfDir, 10, 0, 16),
          "ivfpq" -> graft.operators.Ingest
            .ivfPqRecallMeasured(spark, sfDir, 10, 0, 16),
          "ivfsq" -> graft.operators.Ingest
            .ivfSqRecallMeasured(spark, sfDir, 10, 0, 16))
          .foreach { case (fam, df) =>
            val r = time(s"recall:$fam")(df.head())
            println(s"  $fam n_queries=${r.getLong(0)} mean_recall=${r.getDouble(1)}")
          }
      // band-fitting sweep for the quantizer-bound envelope: ADC-only
      // (expand=1) vs rescored recall at coarse PQ geometries, EVERY
      // cell probed so the quantizer is the only binding constraint
      case "pq_distortion_probe" =>
        val n = graft.queries.Tables.embeddings(spark, sfDir).count()
        val nCells = graft.operators.Similarity.ivfNumCells(n)
        println(s"  n=$n cells=$nCells")
        for ((m, kc) <- Seq((1, 256), (2, 256), (4, 256));
             ex <- Seq(1, 16)) {
          val r = graft.operators.Ingest.ivfPqRecallMeasured(
            spark, sfDir, 10, nCells, 16, ex, m, kc).head()
          println(s"  m=$m kCent=$kc expand=$ex recall=${r.getDouble(1)}")
        }
        val env = graft.operators.Ingest.pqDistortionEnvelope(spark, sfDir).head()
        println(s"  envelope adc_lossy=${env.getBoolean(1)} rescore_recovers=${env.getBoolean(2)}")
      // the classifier-axis drift fraction the q_nb_policy θ straddles
      case "nb_drift_probe" =>
        val d = time("nb:drift")(
          graft.operators.Curation.nbDriftFraction(spark, sfDir))
        println(s"  nb drift fraction=$d")
      // raw overlap behind q_mmr_ivf_envelope (pruned-probe diversified
      // picks vs the exact-pool picks)
      case "mmr_envelope_probe" =>
        val ov = time("mmr:overlap")(
          graft.operators.Ingest.mmrIvfOverlapMeasured(spark, sfDir))
        println(s"  mmr pruned-vs-exact pick overlap=$ov")
        val starved = time("mmr:starved")(
          graft.operators.Ingest.mmrIvfOverlapMeasured(spark, sfDir,
            nProbe = 1))
        println(s"  mmr nProbe=1 pick overlap=$starved")
      // negative-control view: coarse quantizers / starved shortlists
      // through the same measured-recall harness (the SimilaritySpec
      // controls' tuning companion)
      case "recall_negctl" =>
        Seq(
          ("ivfpq m=1 k=4 expand=1 allcells",
            graft.operators.Ingest.ivfPqRecallMeasured(
              spark, sfDir, 10, 9999, 16, expand = 1, m = 1, kCent = 4)),
          ("ivfsq expand=1 allcells",
            graft.operators.Ingest.ivfSqRecallMeasured(
              spark, sfDir, 10, 9999, 16, expand = 1)))
          .foreach { case (label, df) =>
            val r = time(s"negctl")(df.head())
            println(s"  $label mean_recall=${r.getDouble(1)}")
          }
      // phase breakdown of the warm IVF-PQ stored path
      case "ivfpq_phases" =>
        time("ivfpq:ensure")(graft.operators.CellIndex.base(spark, sfDir,
          graft.operators.CellIndex.Pq))
        val df = time("ivfpq:plan")(
          graft.operators.Ingest.ivfPqTopKStored(spark, sfDir, 10))
        time("ivfpq:exec")(df.count())
        val df2 = graft.operators.Ingest.ivfPqTopKStored(spark, sfDir, 10)
        time("ivfpq:exec2")(df2.count())
      // phase breakdown of the Bloom decontamination query (gram prep /
      // bloom build / final certify action)
      case "bloom_phases" =>
        import org.apache.spark.sql.functions._
        graft.functions.Sketch.register(spark)
        graft.functions.BloomOps.register(spark)
        val docs = graft.queries.Tables.documents(spark, sfDir)
        val toks = graft.operators.Curation.gramToks(col("text"))
        val grams = docs.select(col("doc_id"),
          graft.operators.Curation.splitColumn(col("doc_id")).as("split"),
          explode(graft.functions.Sketch.wordGramHashes(toks, 8)).as("g"))
          .persist()
        time("bloom:gram-cache")(grams.count())
        val bloomBytes = time("bloom:build")(grams
          .filter(col("split") === "train")
          .agg(graft.functions.BloomOps.bloomAgg(col("g"),
            1000000L, 8000000L).as("bf"))
          .head().getAs[Array[Byte]](0))
        val evalHits = grams.filter(col("split") =!= "train")
          .filter(graft.functions.BloomOps.mightContain(bloomBytes, col("g")))
          .persist()
        time("bloom:probe")(evalHits.select("doc_id").distinct().count())
        time("bloom:pruned-join") {
          val matchedKeys = grams.filter(col("split") === "train")
            .select("g")
            .join(org.apache.spark.sql.functions.broadcast(
              evalHits.select("g").distinct()), Seq("g"), "left_semi")
          evalHits
            .join(org.apache.spark.sql.functions.broadcast(matchedKeys),
              Seq("g"), "left_semi")
            .select("doc_id").distinct().count()
        }
        evalHits.unpersist()
        grams.unpersist()
      // micro-breakdown of bloom build/probe costs on cached grams
      case "bloom_micro" =>
        import org.apache.spark.sql.functions._
        graft.functions.Sketch.register(spark)
        graft.functions.BloomOps.register(spark)
        val docs = graft.queries.Tables.documents(spark, sfDir)
        val toks = graft.operators.Curation.gramToks(col("text"))
        val grams = docs.select(col("doc_id"),
          graft.operators.Curation.splitColumn(col("doc_id")).as("split"),
          explode(graft.functions.Sketch.wordGramHashes(toks, 8)).as("g"))
          .persist()
        time("warmup-count")(grams.count())
        println("n_grams = " + time("gram-count-warm")(grams.count()))
        time("eval-count-plain")(grams.filter(col("split") =!= "train").count())
        val bloomBytes = time("bloom-build-1")(grams
          .filter(col("split") === "train")
          .agg(graft.functions.BloomOps.bloomAgg(col("g"),
            1000000L, 8000000L).as("bf")).head().getAs[Array[Byte]](0))
        time("bloom-build-2")(grams.filter(col("split") === "train")
          .agg(graft.functions.BloomOps.bloomAgg(col("g"),
            1000000L, 8000000L).as("bf")).head().getAs[Array[Byte]](0))
        time("probe-count-1")(grams.filter(col("split") =!= "train")
          .filter(graft.functions.BloomOps.mightContain(bloomBytes, col("g")))
          .count())
        time("probe-count-2")(grams.filter(col("split") =!= "train")
          .filter(graft.functions.BloomOps.mightContain(bloomBytes, col("g")))
          .count())
        val small = time("small-bloom-build")(grams
          .filter(col("split") === "train")
          .agg(graft.functions.BloomOps.bloomAgg(col("g"),
            1000000L, 800000L).as("bf")).head().getAs[Array[Byte]](0))
        time("small-probe-count")(grams.filter(col("split") =!= "train")
          .filter(graft.functions.BloomOps.mightContain(small, col("g")))
          .count())
        grams.unpersist()
      // measured IVF recall across probe widths (envelope-gate tuning)
      case "ivf_recall_probe" =>
        val n = graft.queries.Tables.embeddings(spark, sfDir).count()
        val nCells = graft.operators.Similarity.ivfNumCells(n)
        println(s"n=$n nCells=$nCells")
        for (frac <- Seq(0.25, 0.375, 0.5, 0.75, 1.0)) {
          val nProbe = math.max(1, math.ceil(nCells * frac).toInt)
          val row = graft.operators.Ingest.ivfRecallMeasured(
            spark, sfDir, 10, nProbe, 16).head()
          println(s"frac=$frac nProbe=$nProbe -> recall=${row.getDouble(1)}")
        }
      // plan audit for the substring-dedup operator
      case "substr_plan" =>
        graft.operators.Dedup.substringDupCoverage(
          graft.queries.Tables.documents(spark, sfDir),
          graft.operators.Dedup.SubstrDedupK).explain("formatted")
      // bucket-profile probe for the simhash banding at this SF
      case "simhash_probe" =>
        import org.apache.spark.sql.functions._
        val docs = graft.queries.Tables.documents(spark, sfDir)
        val base = docs.select("doc_id", "text")
        val twins = base.select((col("doc_id") + 50000000L).as("doc_id"),
          col("text"))
        val sh = graft.operators.Dedup.simhash(base.unionByName(twins))
        val banded = sh.select(col("doc_id"),
          explode(array(graft.functions.Sketch.bandStructs(col("simhash"), 4): _*)).as("b"))
          .select(col("b.band_idx").as("bi"), col("b.band_val").as("bv"))
        val prof = banded.groupBy("bi", "bv").count()
          .agg(count(lit(1)).as("n_buckets"), max("count").as("max_load"),
            sum(expr("count * (count - 1) DIV 2")).as("total_pairs"))
          .collect().head
        println(s"buckets=${prof.get(0)} maxLoad=${prof.get(1)} pairs=${prof.get(2)}")
      // per-axis serve breakdown of the composed takedown (which of the
      // nine axis sub-serves carries q_takedown_e2e's seconds?)
      case "takedown_phases" =>
        import org.apache.spark.sql.functions._
        val dead = graft.operators.Ingest.ensureForgetSet(spark, sfDir)._1
          .select("doc_id").distinct().localCheckpoint()
        val deadVec = dead.select(col("doc_id").as("vec_id"))
        val deadDoc = dead
        val qs = graft.queries.Tables.embeddings(spark, sfDir)
          .join(broadcast(deadVec), "vec_id")
          .orderBy("vec_id").limit(8)
          .select((col("vec_id") + lit(70000000L)).as("q_id"),
            col("embedding").as("q_emb"))
          .localCheckpoint()
        def run(label: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
          time(s"axis:$label warm-build")(df.count())
          val built = time(s"axis:$label construct")(df)
          time(s"axis:$label count")(built.count())
        }
        run("bm25")(graft.operators.Ingest.bm25TopKForgottenWith(
          spark, sfDir, deadDoc, Seq("table", "scan", "join"), 10))
        run("cms")(graft.operators.CorpusStats.cmsEstimateForgottenWith(
          spark, sfDir, deadDoc))
        run("dense")(graft.operators.Ingest.knnJoinIvfForgottenWith(
          spark, sfDir, deadVec, qs, 10))
        run("media")(graft.operators.Multimodal.imageDedupForgottenWith(
          spark, sfDir, deadDoc))
        run("model")(graft.operators.Curation.nbModelRetractedWith(
          spark, sfDir, deadDoc))
        run("phrase")(graft.operators.Ingest.phraseMatchForgottenWith(
          spark, sfDir, deadDoc, graft.operators.Ingest.PhraseBatch))
        run("qpq")(graft.operators.Ingest.knnJoinIvfPqForgottenWith(
          spark, sfDir, deadVec, qs, 10))
        run("qsq")(graft.operators.Ingest.knnJoinIvfSqForgottenWith(
          spark, sfDir, deadVec, qs, 10))
        run("sketch")(graft.operators.Ingest.nearDupForgottenWith(
          spark, sfDir, deadDoc))
        run("e2e-composed")(graft.operators.Ingest.takedownE2e(spark, sfDir))
      // round/edge breakdown of the dup-cluster contraction
      case "cc_phases" =>
        import org.apache.spark.sql.functions._
        val docs = graft.queries.Tables.documents(spark, sfDir)
        val cand = time("cc:candidates")(
          graft.operators.Dedup.minhashCandidates(docs).localCheckpoint())
        println(s"  candidate pairs=${cand.count()}")
        val edges = time("cc:verify")(
          graft.operators.Dedup.verifiedOverlap(docs, cand)
            .filter(col("n_common") * 2 >= col("n_union"))
            .select("doc1", "doc2").localCheckpoint())
        println(s"  edges=${edges.count()}")
        time("cc:contract")(
          graft.operators.Curation.connectedComponents(edges).count())
        time("cc:contract2") {
          val (lbl, rounds) = graft.operators.Curation
            .connectedComponentsImpl(edges, 25)
          println(s"  rounds=$rounds labels=${lbl.count()}")
        }
      // cumulative stage costs of the crawl e2e spine (each probe
      // re-runs the prior stages — subtract successive numbers)
      case "crawl_phases" =>
        import org.apache.spark.sql.functions._
        val spark2 = spark
        import spark2.implicits._
        graft.functions.QualityModel.register(spark)
        val recs = graft.operators.Crawl.ensureWarcFiles(spark, sfDir)
          .select("warc").as[Array[Byte]]
          .flatMap(bytes => graft.sources.WarcFile.decodeWarcGz(bytes).map(r =>
            (r.recordId.stripPrefix("urn:graft:doc-").toLong, r.targetUri, r.body)))
          .toDF("doc_id", "uri", "html")
        def noop(df: org.apache.spark.sql.DataFrame): Unit =
          df.write.format("noop").mode("overwrite").save()
        time("crawl:warc-decode")(noop(recs))
        time("crawl:warc-decode2")(noop(recs))
        val extracted = recs.select(col("doc_id"),
          graft.operators.Crawl.canonicalizeUrl(col("uri")).as("canon_url"),
          graft.operators.Curation.extractHtmlText(col("html"))
            .getField("extracted").as("extracted"))
        time("crawl:+extract")(noop(extracted))
        val urlDeduped = extracted
          .groupBy("canon_url")
          .agg(min(struct(col("doc_id"), col("extracted"))).as("f"))
          .select(col("f.doc_id").as("doc_id"), col("canon_url"),
            col("f.extracted").as("extracted"))
        val withDomain = urlDeduped.select(col("doc_id"),
          graft.operators.Crawl.registrableDomain(col("canon_url")).as("domain"),
          col("extracted"), length(col("extracted")).as("x_len"))
        val capped = graft.plans.TopK.topKPerKey(withDomain, Seq(col("domain")),
          Seq(col("x_len").desc, col("doc_id").asc),
          graft.operators.Crawl.DomainCap)
        time("crawl:+dedup+cap")(noop(capped))
        val bias = graft.operators.Curation.QualityBiasMicro
        val admitted = capped
          .withColumn("f", graft.functions.QualityModel.qualityScore(
            graft.operators.TextAnalysis.bm25Toks(col("extracted")),
            graft.operators.Curation.QualityWeights))
          .filter(when(col("f.n_features") > 0,
            col("f.sum_micro") + lit(bias) * col("f.n_features") >= 0)
            .otherwise(lit(bias >= 0L)))
          .select(col("doc_id"), col("extracted").as("text"))
        time("crawl:+quality")(noop(admitted))
        val full = graft.operators.Crawl.crawlPipelineDocs(spark, sfDir)
        time("crawl:full")(noop(full))
        time("crawl:full2")(noop(full))
        val e2e = SparkEntry.queries("q_crawl_pipeline_e2e")(spark, sfDir)
        time("crawl:e2e")(noop(e2e))
        time("crawl:e2e2")(noop(e2e))
      // tokenize-vs-kernel split of the quality scoring stage
      case "quality_micro" =>
        import org.apache.spark.sql.functions._
        graft.functions.QualityModel.register(spark)
        val docs = graft.queries.Tables.documents(spark, sfDir)
        def noop2(df: org.apache.spark.sql.DataFrame): Unit =
          df.write.format("noop").mode("overwrite").save()
        val toks = docs.select(col("doc_id"),
          graft.operators.TextAnalysis.bm25Toks(col("text")).as("t"))
        time("qm:tokenize")(noop2(toks))
        time("qm:tokenize2")(noop2(toks))
        val scoredQ = docs.select(col("doc_id"),
          graft.functions.QualityModel.qualityScore(
            graft.operators.TextAnalysis.bm25Toks(col("text")),
            graft.operators.Curation.QualityWeights).as("f"))
        time("qm:tok+score")(noop2(scoredQ))
        time("qm:tok+score2")(noop2(scoredQ))
      // stage costs of the exact PPJoin pipeline (q_near_dup_jaccard /
      // q_split_leakage): sketch / df / prefix / candidates / verify
      case "jaccard_phases" =>
        import org.apache.spark.sql.functions._
        graft.functions.Sketch.register(spark)
        val docs = graft.queries.Tables.documents(spark, sfDir)
        def noopJ(df: org.apache.spark.sql.DataFrame): Unit =
          df.write.format("noop").mode("overwrite").save()
        val (tauP, tauQ) = (4, 5)
        for (round <- 1 to 2) {
          val feats = time(s"j$round:sketch")(docs.select(col("doc_id"),
            graft.functions.Sketch.wordGramHashes(
              split(lower(regexp_replace(trim(col("text")), "\\s+", " ")), " "),
              3).as("sh_set"))
            .localCheckpoint())
          val entries = feats.select(col("doc_id"), size(col("sh_set")).as("n"),
            explode(col("sh_set")).as("g"))
          val dfreq = entries.groupBy("g").agg(count(lit(1)).as("df"))
          val byRarity = org.apache.spark.sql.expressions.Window
            .partitionBy("doc_id").orderBy("df", "g")
          val prefix = entries.join(dfreq, "g")
            .withColumn("rn", row_number().over(byRarity))
            .filter(col("rn") <=
              col("n") - expr(s"(n * $tauP + ${tauQ - 1}) div $tauQ") + 1)
            .select("doc_id", "n", "g", "rn")
          time(s"j$round:prefix")(noopJ(prefix))
          val cands = prefix.as("x").join(prefix.as("y"),
              col("x.g") === col("y.g") && col("x.doc_id") < col("y.doc_id") &&
                col("x.n") * tauP <= col("y.n") * tauQ &&
                col("y.n") * tauP <= col("x.n") * tauQ)
            .select(col("x.doc_id").as("doc1"), col("y.doc_id").as("doc2"),
              col("x.n").as("n1"), col("y.n").as("n2"),
              (least(col("x.rn"), col("y.rn")) +
                least(col("x.n") - col("x.rn"), col("y.n") - col("y.rn")))
                .as("ub"))
            .groupBy("doc1", "doc2", "n1", "n2")
            .agg(min(col("ub")).as("ub"))
            .filter(col("ub") * (tauP + tauQ) >= (col("n1") + col("n2")) * tauP)
            .select("doc1", "doc2")
          val candsMat = time(s"j$round:cands")(cands.localCheckpoint())
          println(s"  cands=${candsMat.count()}")
          time(s"j$round:verify")(noopJ(
            graft.operators.Dedup.verifiedOverlapFromFeatures(feats, candsMat)
              .filter(col("n_common") * tauQ >= col("n_union") * tauP)))
          time(s"j$round:full")(
            graft.operators.Dedup.jaccardPairsExact(docs, tauP, tauQ)
              .select("doc1", "doc2", "jaccard").orderBy("doc1", "doc2")
              .count())
        }
      // arm costs of the batched hybrid evaluation suite (q_mrr_batch /
      // q_ndcg_batch): probes / dense kNN / sparse BM25 / fuse / metric
      case "hybrid_phases" =>
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.expressions.Window
        val emb = graft.queries.Tables.embeddings(spark, sfDir)
        val nP = 8; val k = 10
        for (round <- 1 to 2) {
          val probes = time(s"h$round:probes")(
            graft.operators.Similarity.localizedQueryBatch(
              emb.orderBy("vec_id").limit(nP)
                .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))))
          val qmap = probes.select(col("q_id"),
            row_number().over(Window.orderBy("q_id"))
              .cast(org.apache.spark.sql.types.LongType).as("eq"))
          val dense = time(s"h$round:dense-knn")(
            graft.operators.Similarity.knnJoin(emb, probes, k)
              .join(broadcast(qmap), "q_id")
              .select(col("eq").as("q_id"), col("vec_id").as("id"),
                col("rnk").as("rank")).localCheckpoint())
          val sparse = time(s"h$round:sparse-bm25") {
            val spark2 = spark; import spark2.implicits._
            graft.operators.Ingest.bm25TopKBatch(spark, sfDir,
                graft.operators.Ingest.NdcgBatchTerms.toDF("q_id", "term"), k)
              .select(col("q_id"), col("doc_id").as("id"),
                col("rnk").as("rank")).localCheckpoint()
          }
          val ranked = time(s"h$round:fuse")(
            graft.operators.Similarity.rrfFuseBatch(Seq(dense, sparse), k)
              .select("q_id", "id", "rank").localCheckpoint())
          time(s"h$round:mrr")(
            graft.operators.Similarity.mrrBatch(ranked, dense).count())
          time(s"h$round:ndcg")(
            graft.operators.Similarity.ndcgAtKBatch(ranked, dense, k).count())
        }
      // synthetic ALWAYS-SLOW query — the adjudication negative control
      // (scripts/test_compare_bench.py): a real regression is slow in
      // isolation too; this one is slow anywhere, by construction, so
      // the K-gate's self-adjudication must refuse to clear it
      case "slow_probe" =>
        time("slow_probe")(Thread.sleep(2000))
      // stage costs of the curation e2e spine (train / mean / admit+
      // grams / leakage / packing)
      case "curation_phases" =>
        import org.apache.spark.sql.functions._
        graft.functions.Sketch.register(spark)
        val docs = graft.queries.Tables.documents(spark, sfDir)
        val (wmap, wOov, bias) = time("cur:train")(
          graft.operators.Curation.nbFrozenModel(docs, col("lang") === "en"))
        val scored = docs.select(col("doc_id"), col("text"),
          graft.operators.Curation.nbScoreExpr(col("text"), wmap, wOov, bias)
            .as("score_micro"))
        val tot = scored.agg(count(lit(1)).as("n"), sum("score_micro").as("s"))
        time("cur:mean")(tot.count())
        val admitted = scored.crossJoin(broadcast(tot))
          .filter(col("score_micro") * col("n") > col("s"))
          .select(col("doc_id"), col("text"),
            graft.operators.Curation.splitColumn(col("doc_id")).as("split"))
          .localCheckpoint(eager = false)
        time("cur:admit-mat")(admitted.count())
        val e2e = SparkEntry.queries("q_curation_pipeline_e2e")(spark, sfDir)
        time("cur:e2e")(e2e.count())
        time("cur:e2e2")(e2e.count())
        val e2e3 = SparkEntry.queries("q_curation_pipeline_e2e")(spark, sfDir)
        time("cur:e2e3-fresh")(e2e3.count())
      // cost of re-constructing a parquet reader (file listing + footer
      // schema) vs reusing the DataFrame — sizes the reader-memo idea
      case "readcost_probe" =>
        val p = s"$sfDir/documents.parquet"
        spark.read.parquet(p).limit(1).count()
        time("50 read.parquet") {
          var i = 0; while (i < 50) { spark.read.parquet(p); i += 1 }
        }
        val df = spark.read.parquet(p)
        time("50 reuses") {
          var i = 0; while (i < 50) { df.select("doc_id"); i += 1 }
        }
        time("50 exists checks") {
          val hp = new org.apache.hadoop.fs.Path(p)
          val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
          var i = 0; while (i < 50) { fs.exists(hp); i += 1 }
        }
      case n =>
        val t0 = System.nanoTime()
        val cnt = SparkEntry.queries(n)(spark, sfDir).count()
        println(f"$n%-24s ${(System.nanoTime() - t0) / 1e9}%8.2fs  rows=$cnt")
    }
    spark.stop()
  }
}
