package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.Tables.documents

/** Corpus-frequency analytics (SURVEY.md §2.11): a mergeable Count-Min
  * sketch for heavy-hitter queries, and document-level PMI co-occurrence
  * — the association statistics an embedding / phrase pipeline computes
  * before training.
  *
  * 100 TB design notes:
  *  - The CMS is built from per-term partial counts (one map-side
  *    combined groupBy), then folded to D×W = [[CmsDepth]]·[[CmsWidth]]
  *    rows — a bounded broadcast artifact no matter the corpus size,
  *    and MERGEABLE: sketches of two corpora add cell-wise, so shards /
  *    days / crawls combine without re-reading tokens. Point estimates
  *    are a ≤D-row lookup each.
  *  - All CMS arithmetic is integer (bucket = exact base-16 fold of an
  *    md5 prefix, estimate = min of BIGINT sums) — bit-identical on any
  *    executor count, and replayable by the SQL oracle.
  *  - PMI expands per-document DISTINCT-term pairs. The expansion is
  *    quadratic in per-doc vocabulary, NOT corpus vocabulary — bounded
  *    by [[PmiMaxDocTerms]] (drop-excess, loud in the doc count) so a
  *    pathological mega-doc cannot blow the join; the pair groupBy is
  *    map-side combined and the majority-support cut is an integer
  *    cross-multiplication (2·df_ab ≥ N), never a float threshold.
  */
object CorpusStats {

  /** Count-Min geometry: depth = independent hash rows, width = 256
    * buckets so one md5 hex byte IS the bucket (exact fold, no modulo
    * bias, identical in any engine). */
  val CmsDepth: Int = 4
  val CmsWidth: Int = 256

  /** Heavy-hitter probes reported by the gate. */
  val CmsTopK: Int = 10

  /** Per-document distinct-term cap for the PMI pair expansion. */
  val PmiMaxDocTerms: Int = 64

  /** The corpus tokenizer — same whitespace normalization as the BM25 /
    * term-stats family so frequency surfaces agree across operators. */
  private def toks(text: Column): Column =
    split(lower(regexp_replace(trim(text), "\\s+", " ")), " ")

  /** Row-r CMS bucket of a term: the first md5 hex byte of
    * `r || '#' || term`, folded to 0..255 exactly (two base-16
    * digits — [[CmsWidth]] is 16², so the fold IS the bucket). */
  def cmsBucket(r: Column, term: Column): Column =
    conv(substring(md5(concat(r.cast(StringType), lit("#"), term)), 1, 2), 16, 10)
      .cast(IntegerType)

  /** DuckDB twin of [[cmsBucket]] (exact integer digit fold — DuckDB
    * has no conv()). */
  def cmsBucketSql(r: String, term: String): String =
    s"""list_sum(list_transform(range(2),
       |  i -> (strpos('0123456789abcdef',
       |          substr(md5(CAST($r AS VARCHAR) || '#' || $term),
       |                 CAST(i + 1 AS INT), 1)) - 1)
       |       * (CAST(1 AS BIGINT) << CAST(4 * (1 - i) AS INT))))""".stripMargin

  /** Build the D×W sketch from a (term, c) count table: explode each
    * term into its [[CmsDepth]] (row, bucket) cells and sum — at most
    * D·W output rows regardless of vocabulary. */
  def cmsBuild(termCounts: DataFrame): DataFrame =
    termCounts
      .select(explode(sequence(lit(0), lit(CmsDepth - 1))).as("r"),
        col("term"), col("c"))
      .select(col("r"), cmsBucket(col("r"), col("term")).as("b"), col("c"))
      .groupBy("r", "b").agg(sum("c").as("cnt"))

  /** Point-estimate each probe term against the sketch: min over the
    * term's D cells. Estimates are ≥ the true count by construction
    * (collisions only add). */
  def cmsEstimate(cms: DataFrame, probes: DataFrame): DataFrame =
    probes
      .select(col("term"), col("c"),
        explode(sequence(lit(0), lit(CmsDepth - 1))).as("r"))
      .select(col("term"), col("c"), col("r"),
        cmsBucket(col("r"), col("term")).as("b"))
      .join(broadcast(cms), Seq("r", "b"))
      .groupBy("term", "c")
      .agg(min("cnt").as("tf_est"))

  // --- stored sketch maintenance (the LSM posture on the stats axis) ---

  /** Fixed probe list for the stored-sketch serving gate — template
    * vocabulary present at every SF, plus one certainly-absent term so
    * the empty-cell edge (a probe whose cell has no stored row) is
    * pinned cross-engine. A literal list, NOT a derived top-k: the warm
    * serving path must touch no corpus-derived frame at all. */
  val CmsProbeTerms: Seq[String] =
    Seq("agg", "column", "join", "merge", "query", "scan", "window",
      "zzz_absent_probe")

  /** Stored corpus-stats artifacts: the BASE sketch over `documents` and
    * the DELTA sketch over the append batch (the same `% 101` exact-copy
    * batch as [[graft.operators.Ingest.DocAppendOffset]] — doc ids are
    * irrelevant to a token sketch, so the batch is just the re-tokenized
    * copies). Each build is one map-side-combined count + a D×W fold;
    * each artifact is ≤ [[CmsDepth]]·[[CmsWidth]] rows no matter the
    * corpus size. The base is NEVER rebuilt on append — at 100 TB that
    * is the whole point: per-shard/per-crawl sketches are built once by
    * the ingest that produced the shard, and every later reader pays
    * only the cell-wise merge. */
  def ensureCmsArtifacts(s: SparkSession, dir: String): (DataFrame, DataFrame) = graft.BuildTimer.time {
    val bPath = Artifacts.scratch(s, dir, "cms_base")
    val dPath = Artifacts.scratch(s, dir, "cms_delta")
    def counts(docs: DataFrame): DataFrame = docs
      .select(explode(toks(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c"))
    Artifacts.buildGate(s, bPath) {
      cmsBuild(counts(documents(s, dir)))
        .write.mode("overwrite").parquet(bPath)
    }
    Artifacts.buildGate(s, dPath) {
      cmsBuild(counts(documents(s, dir).filter(col("doc_id") % 101 === 0)))
        .write.mode("overwrite").parquet(dPath)
    }
    (Artifacts.readCommitted(s, bPath), Artifacts.readCommitted(s, dPath))
  }

  /** Warm heavy-hitter estimates over the GROWN corpus, served from the
    * stored sketches alone: cell-wise merge (sum is associative, so
    * merged-from-parts IS the fresh sketch over base ∪ batch — the
    * oracle pins that equality by replaying the fresh build over the
    * augmented corpus), then a min-over-depth point estimate per probe.
    * Absent cells count 0 (LEFT join + coalesce): a probe term the
    * corpus never saw estimates as its true collision mass, not as a
    * dropped row. Everything after the stored scans is ≤ 2·D·W rows —
    * broadcast-scale at any corpus size. */
  def cmsEstimateStored(s: SparkSession, dir: String,
      probeTerms: Seq[String] = CmsProbeTerms): DataFrame = {
    val (base, delta) = ensureCmsArtifacts(s, dir)
    val merged = base.unionByName(delta)
      .groupBy("r", "b").agg(sum("cnt").as("cnt"))
    cmsProbeServe(s, merged, probeTerms)
  }

  /** Shared probe tail of every stored-sketch serve (merged, forgotten,
    * purged): explode each probe into its D cells, LEFT-join the cell
    * frame (absent cell = 0 mass, the zero-cell edge), min over depth. */
  private def cmsProbeServe(s: SparkSession, cells: DataFrame,
      probeTerms: Seq[String]): DataFrame = {
    import s.implicits._
    probeTerms.toDF("term")
      .select(col("term"),
        explode(sequence(lit(0), lit(CmsDepth - 1))).as("r"))
      .select(col("term"), col("r"),
        cmsBucket(col("r"), col("term")).as("b"))
      .join(broadcast(cells), Seq("r", "b"), "left")
      .groupBy("term")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("tf_est"))
      .orderBy("term")
  }

  // --- deletion on the stats axis (sketch linearity) --------------------

  /** Stored RETRACTION sketch — the deletion verb's negative delta on
    * the stats axis, the [[graft.operators.Ingest.ensureForgetSet]]
    * mirror: built by tokenizing ONLY the retracted documents (bounded
    * by the retraction size, never a corpus re-scan). CMS cells are
    * SUMS — a linear sketch — so subtracting the retraction sketch
    * cell-wise from the base yields EXACTLY the sketch of the reduced
    * corpus: cells(A) − cells(R) = cells(A \ R) for any R ⊆ A, per
    * cell, in exact integers. The forget gate's oracle replays a FRESH
    * sketch over the reduced corpus, so the hash IS the linearity
    * proof (the q_quantile_merge convention, inverted sign). HLL gets
    * no such twin BY DESIGN: its registers merge by MAX, which is not
    * invertible — the deletion verb on the cardinality axis is a
    * rebuild, not a subtraction. */
  def ensureCmsRetract(s: SparkSession, dir: String): DataFrame = graft.BuildTimer.time {
    val rPath = Artifacts.scratch(s, dir, "cms_retract")
    Artifacts.buildGate(s, rPath) {
      cmsBuild(documents(s, dir)
        .filter(col("doc_id") % Ingest.ForgetMod === Ingest.ForgetRem)
        .select(explode(toks(col("text"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("c")))
        .write.mode("overwrite").parquet(rPath)
    }
    Artifacts.readCommitted(s, rPath)
  }

  /** Cell-wise subtraction — union with negated counts, one bounded
    * groupBy over ≤ 2·D·W rows. Cells whose whole mass was retracted
    * drop out (a fresh build over the reduced corpus has no such row
    * either, and the serve tail's LEFT join reads absent as 0). */
  private def cmsSubtracted(base: DataFrame, retract: DataFrame): DataFrame =
    base.unionByName(retract.select(col("r"), col("b"), (-col("cnt")).as("cnt")))
      .groupBy("r", "b").agg(sum("cnt").as("cnt"))
      .filter(col("cnt") =!= 0)

  /** Heavy-hitter estimates with the retraction SUBTRACTED at serve
    * time — the stored base sketch is untouched (readers keep their
    * snapshot; the takedown is effective the instant the retraction
    * marker commits). Everything after the two stored scans is
    * ≤ 2·D·W rows. */
  def cmsEstimateForgotten(s: SparkSession, dir: String,
      probeTerms: Seq[String] = CmsProbeTerms): DataFrame = {
    val (base, _) = ensureCmsArtifacts(s, dir)
    cmsProbeServe(s, cmsSubtracted(base, ensureCmsRetract(s, dir)), probeTerms)
  }

  /** [[cmsEstimateForgotten]] with a CALLER-SUPPLIED tombstone frame
    * (e.g. [[graft.streaming.ForgetStream]]'s append-only id directory
    * — the bm25TopKForgottenWith precedent on the stats axis): the
    * retraction sketch is derived from the ids at serve time, one
    * semi-bounded tokenize over only the retracted documents. */
  def cmsEstimateForgottenWith(s: SparkSession, dir: String, dead: DataFrame,
      probeTerms: Seq[String] = CmsProbeTerms): DataFrame = {
    val (base, _) = ensureCmsArtifacts(s, dir)
    val retract = cmsBuild(documents(s, dir)
      .join(broadcast(dead.select("doc_id").distinct()), "doc_id")
      .select(explode(toks(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c")))
    cmsProbeServe(s, cmsSubtracted(base, retract), probeTerms)
  }

  /** Physical purge on the stats axis: the subtracted sketch REWRITTEN
    * as a new generation — computed from STORED CELLS alone (≤ 2·D·W
    * input rows, zero corpus I/O: the cheapest purge in the engine,
    * which is exactly what sketch linearity buys), committed under the
    * usual marker protocol, old generation untouched. Serving reads
    * the purged artifact with no subtraction in the plan; q_cms_purge
    * shares q_cms_forget's oracle verbatim, so subtracted ≡ purged is
    * pinned by one hash (the q_bm25_purge convention). */
  def ensureCmsPurged(s: SparkSession, dir: String): DataFrame = graft.BuildTimer.time {
    val pPath = Artifacts.scratch(s, dir, "cms_gen2")
    Artifacts.buildGate(s, pPath) {
      val (base, _) = ensureCmsArtifacts(s, dir)
      cmsSubtracted(base, ensureCmsRetract(s, dir))
        .write.mode("overwrite").parquet(pPath)
    }
    Artifacts.readCommitted(s, pPath)
  }

  /** Warm estimates from the PURGED generation — one stored scan, no
    * negative cells anywhere in the plan. */
  def cmsEstimatePurged(s: SparkSession, dir: String,
      probeTerms: Seq[String] = CmsProbeTerms): DataFrame =
    cmsProbeServe(s, ensureCmsPurged(s, dir), probeTerms)

  /** Dead fraction on the stats axis, from STORED CELLS alone: every
    * token lands in exactly one bucket per depth row, so a single
    * row's cell sum IS the total token mass — retracted mass over live
    * mass is two ≤ W-row reads, no corpus scan, no tokenize (the
    * bm25DeadFraction shape, cheaper still). */
  def cmsDeadFraction(s: SparkSession, dir: String): Double = {
    val (base, _) = ensureCmsArtifacts(s, dir)
    val retract = ensureCmsRetract(s, dir)
    // sum over an EMPTY slice (no retractions yet, or an all-zero r=0
    // row) is NULL, not 0 — coalesce so the fraction is 0.0, not an NPE
    def mass(df: DataFrame): Long =
      massMemo.getOrElseUpdate(df.filter(col("r") === 0),
        df.filter(col("r") === 0)
          .agg(coalesce(sum("cnt"), lit(0L))).head().getLong(0))
    val live = mass(base)
    if (live == 0L) 0.0 else mass(retract).toDouble / live.toDouble
  }

  // bounded stats-artifact readout, once per (app, committed artifact)
  // — the bm25DeadFraction memo shape (optimization r16)
  private val massMemo = new PlanMemo[Long]

  /** Tombstone-fraction PURGE TRIGGER on the stats axis — the
    * [[graft.operators.Ingest.bm25TopKPolicyServed]] policy verbatim:
    * below θ keep serving the subtracted stored cells (snapshot
    * untouched), at/above θ pay the gen2 rewrite (which here costs only
    * a ≤ 2·D·W-row job — linearity makes the stats axis the cheapest
    * purge in the engine, so its θ can sit far lower than an index's).
    * Returns the served frame plus the decision so the gate pins WHICH
    * arm ran. */
  def cmsEstimatePolicyServed(s: SparkSession, dir: String,
      theta: Double): (DataFrame, Boolean) = {
    val purge = cmsDeadFraction(s, dir) >= theta
    (if (purge) cmsEstimatePurged(s, dir) else cmsEstimateForgotten(s, dir),
      purge)
  }

  // --- mergeable histogram quantiles (the CMS posture, quantile axis) --

  /** Histogram geometry: fixed-width integer buckets over `n_chars`,
    * built PER SHARD — the artifact any ingest job can emit for its own
    * shard and any reader can merge, giving corpus quantiles with no
    * global sort and no full re-scan. */
  val HistBucketWidth: Int = 16
  val HistShards: Int = 8

  /** Percentiles the quantile gate reports. */
  val QuantilePcts: Seq[Int] = Seq(25, 50, 75, 90, 99)

  /** Per-shard fixed-width histogram of a (doc_id, n_chars) frame — one
    * map-side-combined groupBy; ≤ shards · buckets output rows no
    * matter the corpus size. */
  def histBuild(docs: DataFrame): DataFrame = docs
    .select((col("doc_id") % HistShards).cast(IntegerType).as("shard"),
      expr(s"n_chars div $HistBucketWidth").cast(LongType).as("bucket"))
    .groupBy("shard", "bucket").agg(count(lit(1)).as("n"))

  /** Stored quantile artifacts: BASE per-shard histogram over
    * `documents`, DELTA over the `% 101` append copies (the CMS
    * convention). Bucket counts add cell-wise on BOTH axes — across
    * shards and across base/delta — so quantiles of the grown corpus
    * come from bounded stored rows alone. */
  def ensureHistArtifacts(s: SparkSession, dir: String): (DataFrame, DataFrame) = graft.BuildTimer.time {
    val bPath = Artifacts.scratch(s, dir, "hist_base")
    val dPath = Artifacts.scratch(s, dir, "hist_delta")
    Artifacts.buildGate(s, bPath) {
      histBuild(documents(s, dir))
        .write.mode("overwrite").parquet(bPath)
    }
    Artifacts.buildGate(s, dPath) {
      histBuild(documents(s, dir).filter(col("doc_id") % 101 === 0))
        .write.mode("overwrite").parquet(dPath)
    }
    (Artifacts.readCommitted(s, bPath), Artifacts.readCommitted(s, dPath))
  }

  /** Exact histogram quantiles of the GROWN corpus served from the
    * stored per-shard artifacts: cell-wise merge (shards ∪ delta in one
    * groupBy over ≤ 2·shards·buckets rows), bounded cumulative window,
    * then for each percentile the smallest bucket whose cumulative
    * count covers it (integer cross-multiplication — no float
    * boundary). Every frame after the stored scans is ≤ buckets rows:
    * quantiles over 100 TB with no sort of the corpus and no re-read.
    * The bucket answer is exact FOR THE HISTOGRAM (value resolution =
    * [[HistBucketWidth]]), which is the trade every production
    * quantile sketch makes — made honest here by reporting the bucket
    * bounds, not an interpolated point. */
  def histQuantilesStored(s: SparkSession, dir: String): DataFrame = {
    val (base, delta) = ensureHistArtifacts(s, dir)
    histQuantileServe(s, base.unionByName(delta))
  }

  /** Shared quantile tail of every stored-histogram serve (merged,
    * forgotten, purged): fold the shard/generation axes in one bounded
    * groupBy, cumulative window over ≤ buckets rows, integer coverage
    * cut per percentile. */
  private def histQuantileServe(s: SparkSession, cells: DataFrame): DataFrame = {
    import s.implicits._
    val merged = cells
      .groupBy("bucket").agg(sum("n").as("n"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = merged
      .withColumn("cum_n", sum("n").over(w).cast(LongType))
      .crossJoin(broadcast(
        merged.agg(sum("n").cast(LongType).as("total_n"))))
    QuantilePcts.toDF("q_pct")
      .join(cum, col("cum_n") * 100 >= col("q_pct") * col("total_n"))
      .groupBy("q_pct", "total_n")
      .agg(min(struct(col("bucket"), col("cum_n"))).as("f"))
      .select(col("q_pct"),
        col("f.bucket").as("bucket"),
        (col("f.bucket") * HistBucketWidth).cast(LongType).as("lo_chars"),
        col("f.cum_n").as("cum_n"),
        col("total_n"))
      .orderBy("q_pct")
  }

  /** Stored RETRACTION histogram — [[ensureCmsRetract]]'s twin on the
    * quantile axis, built over ONLY the retracted documents. Histogram
    * cells are counts, so the same linearity holds: per-(shard, bucket)
    * subtraction equals the fresh histogram of the reduced corpus,
    * exactly. */
  def ensureHistRetract(s: SparkSession, dir: String): DataFrame = graft.BuildTimer.time {
    val rPath = Artifacts.scratch(s, dir, "hist_retract")
    Artifacts.buildGate(s, rPath) {
      histBuild(documents(s, dir)
        .filter(col("doc_id") % Ingest.ForgetMod === Ingest.ForgetRem))
        .write.mode("overwrite").parquet(rPath)
    }
    Artifacts.readCommitted(s, rPath)
  }

  /** Cell-wise subtraction keeping the shard axis (the artifact stays
    * mergeable after a purge); fully-retracted cells drop out. */
  private def histSubtracted(base: DataFrame, retract: DataFrame): DataFrame =
    base.unionByName(
      retract.select(col("shard"), col("bucket"), (-col("n")).as("n")))
      .groupBy("shard", "bucket").agg(sum("n").as("n"))
      .filter(col("n") =!= 0)

  /** Quantiles with the retraction SUBTRACTED at serve time — stored
    * base untouched, every post-scan frame ≤ 2·shards·buckets rows. */
  def histQuantilesForgotten(s: SparkSession, dir: String): DataFrame = {
    val (base, _) = ensureHistArtifacts(s, dir)
    histQuantileServe(s, histSubtracted(base, ensureHistRetract(s, dir)))
  }

  /** Physical purge on the quantile axis — subtracted cells rewritten
    * as a new generation from stored rows alone (zero corpus I/O).
    * q_quantile_purge shares q_quantile_forget's oracle verbatim. */
  def ensureHistPurged(s: SparkSession, dir: String): DataFrame = graft.BuildTimer.time {
    val pPath = Artifacts.scratch(s, dir, "hist_gen2")
    Artifacts.buildGate(s, pPath) {
      val (base, _) = ensureHistArtifacts(s, dir)
      histSubtracted(base, ensureHistRetract(s, dir))
        .write.mode("overwrite").parquet(pPath)
    }
    Artifacts.readCommitted(s, pPath)
  }

  /** Warm quantiles from the PURGED generation — one stored scan, no
    * negative cells in the plan. */
  def histQuantilesPurged(s: SparkSession, dir: String): DataFrame =
    histQuantileServe(s, ensureHistPurged(s, dir))

  // --- mergeable HLL cardinality artifacts (the CMS posture, ---------
  // --- distinct axis) -------------------------------------------------

  /** lgConfigK of the stored HLL sketches: 2¹² registers ⇒ ~1.6 % rse,
    * ≤ a few KB per sketch row. */
  val HllLgK: Int = 12

  /** Per-lang Datasketches-HLL sketch of the distinct TERM vocabulary —
    * one map-side-combined aggregation, ≤ |langs| bounded binary rows.
    * The vocabulary-size-per-language surface every data card wants,
    * in the shape any shard job can emit and any reader can merge. */
  def hllBuild(docs: DataFrame): DataFrame = docs
    .select(col("lang"), explode(toks(col("text"))).as("term"))
    .groupBy("lang")
    .agg(hll_sketch_agg(col("term"), HllLgK).as("sk"))

  /** Stored cardinality artifacts: BASE per-lang sketches over
    * `documents`, DELTA over the `% 101` append copies (the CMS/hist
    * convention, third axis). HLL registers merge by per-register MAX —
    * commutative and idempotent, so generations combine in any order
    * and re-merging a generation is harmless (the property that makes
    * the artifact safe under retried compactions). */
  def ensureHllArtifacts(s: SparkSession, dir: String): (DataFrame, DataFrame) = graft.BuildTimer.time {
    val bPath = Artifacts.scratch(s, dir, "hll_base")
    val dPath = Artifacts.scratch(s, dir, "hll_delta")
    Artifacts.buildGate(s, bPath) {
      hllBuild(documents(s, dir))
        .write.mode("overwrite").parquet(bPath)
    }
    Artifacts.buildGate(s, dPath) {
      hllBuild(documents(s, dir).filter(col("doc_id") % 101 === 0))
        .write.mode("overwrite").parquet(dPath)
    }
    (Artifacts.readCommitted(s, bPath), Artifacts.readCommitted(s, dPath))
  }

  /** Distinct-vocabulary estimate of the GROWN corpus served from the
    * stored sketches alone (one union-agg over ≤ 2·|langs| rows). Gate
    * shape (r13, replacing the constant-true envelope): the EXACT
    * distinct count plus the estimator's 5%-ERROR BAND
    * `floor(|est − exact|·20 / exact)` — 0 means within 5 %, and any
    * drift shows its actual band in the diff instead of a bare false.
    * The oracle computes the SAME band from DuckDB's own HLL
    * (`approx_count_distinct`), so each engine independently asserts
    * its estimator's accuracy — the oracle no longer contains a column
    * it did not compute. Deterministic for fixed data: Datasketches
    * HLL has no run-time randomness. */
  def hllMergeServe(s: SparkSession, dir: String): DataFrame = {
    val (base, delta) = ensureHllArtifacts(s, dir)
    val est = base.unionByName(delta)
      .groupBy("lang").agg(hll_union_agg(col("sk")).as("sk"))
      .select(col("lang"), hll_sketch_estimate(col("sk")).as("est"))
    val doc2 = documents(s, dir).select("lang", "text")
      .unionByName(
        documents(s, dir).filter(col("doc_id") % 101 === 0)
          .select("lang", "text"))
    doc2
      .select(col("lang"), explode(toks(col("text"))).as("term"))
      .groupBy("lang").agg(countDistinct(col("term")).as("exact_terms"))
      .join(broadcast(est), "lang")
      .select(col("lang"), col("exact_terms"),
        floor(abs(col("est") - col("exact_terms")) * 20 /
          col("exact_terms")).cast(LongType).as("err_band_5pct"))
      .orderBy("lang")
  }

  /** One-frame DATA CARD — the per-language summary a dataset release
    * ships (docs, token mass, vocabulary, length profile), composed
    * from the same generators the individual stats gates pin: exact
    * counts, the HLL estimate inside its 5% envelope (the
    * q_hll_distinct convention — the estimate is implementation-
    * specific, the envelope is not), the median length bucket by the
    * histogram coverage cut, and integer mean chars. Everything after
    * the two corpus scans (doc stats + token explode) is ≤
    * |langs|·buckets rows; the per-lang cumulative window is over that
    * bounded frame, never the corpus. */
  def dataCard(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val base = docs.groupBy("lang").agg(
      count(lit(1)).as("n_docs"),
      sum("n_chars").as("sum_chars"))
    val tok = docs.select(col("lang"), explode(toks(col("text"))).as("term"))
    val vocab = tok.groupBy("lang").agg(
      count(lit(1)).as("n_tokens"),
      countDistinct("term").as("distinct_terms"),
      hll_sketch_estimate(hll_sketch_agg(col("term"), HllLgK)).as("est"))
    val hist = docs.select(col("lang"),
      expr(s"n_chars div $HistBucketWidth").cast(LongType).as("bucket"))
      .groupBy("lang", "bucket").agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val med = hist
      .withColumn("cum_n", sum("n").over(w).cast(LongType))
      .join(hist.groupBy("lang").agg(sum("n").as("total_n")), "lang")
      .filter(col("cum_n") * 2 >= col("total_n"))
      .groupBy("lang")
      .agg((min("bucket") * HistBucketWidth).cast(LongType).as("p50_chars_lo"))
    base.join(vocab, "lang").join(med, "lang")
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        expr("sum_chars div n_docs").as("mean_chars"),
        col("distinct_terms"),
        floor(abs(col("est") - col("distinct_terms")) * 20 /
          col("distinct_terms")).cast(LongType).as("vocab_err_band_5pct"),
        col("p50_chars_lo"))
      .orderBy("lang")
  }

  // --- query surface ----------------------------------------------------

  /** This module's share of the driver-visible gate surface —
    * bump WITH any gate added here (RegistrySpec sums the
    * module-local declarations; no global count exists). */
  val declaredGates: Int = 11

  /** Deletion surface this module contributes to the composed takedown
    * (TakedownSpec derives the expected axis set from these). */
  val takedownAxes: Seq[String] = Seq("cms")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // heavy hitters through the sketch: exact top-10 terms with their
    // exact counts AND their CMS estimates. The estimate of every probe
    // is a min over bucket sums that include every colliding term in
    // the corpus, so the gate pins the whole sketch construction (hash,
    // fold, cell sums), not just the probe rows.
    "q_heavy_hitters" -> ((s, dir) => {
      val cnt = documents(s, dir)
        .select(explode(toks(col("text"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("c"))
        .localCheckpoint() // two consumers: sketch build + probe top-k
      val probes = cnt.orderBy(desc("c"), asc("term")).limit(CmsTopK)
      cmsEstimate(cmsBuild(cnt), probes)
        .select(col("term"), col("c").as("tf_exact"), col("tf_est"))
        .orderBy("term")
    }),

    // stats-axis LSM: heavy-hitter estimates over base ∪ append batch,
    // served from the two STORED sketches via cell-wise merge — no
    // corpus scan, no tokenize in the warm path. The oracle replays the
    // FRESH build over the augmented corpus, so the hash pins
    // merged-from-parts ≡ fresh-over-union (sum associativity made
    // observable), plus the absent-probe zero-cell edge.
    "q_cms_merge" -> ((s, dir) => cmsEstimateStored(s, dir)),

    // stats-axis DELETION: heavy-hitter estimates with the retraction
    // sketch subtracted cell-wise from the stored base. The oracle
    // replays a fresh sketch over the REDUCED corpus, so the hash IS
    // the proof that CMS subtraction is exact (sketch linearity made
    // observable) — the deletion mirror of q_cms_merge's associativity.
    "q_cms_forget" -> ((s, dir) => cmsEstimateForgotten(s, dir)),

    // physical purge on the stats axis: the subtracted sketch rewritten
    // as gen2 FROM STORED CELLS ALONE (zero corpus I/O) and served with
    // no subtraction in the plan; shares q_cms_forget's oracle verbatim
    // so masked ≡ purged is pinned by one hash.
    "q_cms_purge" -> ((s, dir) => cmsEstimatePurged(s, dir)),

    // the purge TRIGGER on the stats axis, both arms in one gate (the
    // q_forget_policy convention): dead token mass ≈ 1/13 of the corpus,
    // so θ=0.5 must keep the subtracted serve and θ=0.02 must trip the
    // gen2 rewrite; the pinned decision booleans catch a policy that
    // never (or always) fires even though both arms agree on rows.
    "q_cms_policy" -> ((s, dir) => {
      val (lo, loPurged) = cmsEstimatePolicyServed(s, dir, theta = 0.5)
      val (hi, hiPurged) = cmsEstimatePolicyServed(s, dir, theta = 0.02)
      lo.withColumn("arm", lit("mask"))
        .withColumn("purged_serving", lit(loPurged))
        .unionByName(hi.withColumn("arm", lit("purge"))
          .withColumn("purged_serving", lit(hiPurged)))
        .select("arm", "purged_serving", "term", "tf_est")
        .orderBy("arm", "term")
    }),

    // quantile-axis LSM: exact histogram quantiles of base ∪ append
    // batch from the STORED per-shard artifacts — cell-wise merge on
    // both axes (shards, generations), bounded cumulative window,
    // integer coverage cut. The oracle replays a FRESH histogram over
    // the augmented corpus with no shard axis at all, so the hash pins
    // merged-from-parts ≡ fresh-over-union on the quantile surface.
    "q_quantile_merge" -> ((s, dir) => histQuantilesStored(s, dir)),

    // quantile-axis deletion + purge: per-(shard, bucket) count
    // subtraction (exact by linearity, oracle = fresh histogram over
    // the reduced corpus) and the gen2 rewrite serving it mask-free.
    "q_quantile_forget" -> ((s, dir) => histQuantilesForgotten(s, dir)),
    "q_quantile_purge" -> ((s, dir) => histQuantilesPurged(s, dir)),

    // cardinality-axis LSM: per-lang distinct-vocabulary estimate of
    // base ∪ append batch from the STORED HLL sketches (one union-agg
    // over bounded binary rows); gate = exact count both engines + 5%
    // integer envelope on the merged estimate (the q_hll_distinct
    // convention — the estimate is implementation-specific, the
    // envelope is not).
    "q_hll_merge" -> ((s, dir) => hllMergeServe(s, dir)),

    // the data card: per-lang docs/tokens/mean-length/vocab (exact +
    // HLL-in-envelope)/median-length-bucket in one frame — the summary
    // a dataset release ships, composed from the gated generators.
    "q_lang_card" -> ((s, dir) => dataCard(s, dir)),

    // document-level PMI: for term pairs co-occurring in a majority of
    // documents (integer cut 2·df_ab ≥ N), the pointwise mutual
    // information ln(N·df_ab / (df_a·df_b)), rounded 6 dp before the
    // hash compare (the round-before-rank convention).
    "q_pmi_pairs" -> ((s, dir) => {
      val docs = documents(s, dir)
      val terms = docs
        .select(col("doc_id"),
          explode(slice(array_sort(array_distinct(toks(col("text")))),
            1, PmiMaxDocTerms)).as("term"))
        .localCheckpoint() // three consumers: df + both pair sides
      val df = terms.groupBy("term").agg(count(lit(1)).as("df"))
      val pairs = terms.as("x")
        .join(terms.as("y"),
          col("x.doc_id") === col("y.doc_id") && col("x.term") < col("y.term"))
        .groupBy(col("x.term").as("t1"), col("y.term").as("t2"))
        .agg(count(lit(1)).as("df_ab"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      pairs.crossJoin(broadcast(n))
        .filter(col("df_ab") * 2 >= col("n_docs"))
        .join(df.withColumnRenamed("term", "t1").withColumnRenamed("df", "df_a"), "t1")
        .join(df.withColumnRenamed("term", "t2").withColumnRenamed("df", "df_b"), "t2")
        .select(col("t1"), col("t2"), col("df_ab"),
          round(log((col("n_docs") * col("df_ab")).cast(DoubleType) /
            (col("df_a") * col("df_b")).cast(DoubleType)), 6).as("pmi"))
        .orderBy("t1", "t2")
    })
  )

  private val TokCte =
    """SELECT doc_id,
      |       unnest(string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS term
      |FROM documents""".stripMargin

  /** Shared forget/purge oracle on the stats axis: a FRESH sketch over
    * the reduced corpus (`NOT doc_id % ForgetMod = ForgetRem`) probed
    * with the fixed list — subtracted-stored and purged-generation
    * serves must both hash-match it, which pins CMS linearity AND
    * masked ≡ purged in two gates over one SQL string. */
  private val CmsForgetCtes: String =
    s"""doc2 AS (
       |  SELECT text FROM documents
       |  WHERE NOT (doc_id % ${Ingest.ForgetMod} = ${Ingest.ForgetRem})),
       |tok AS (
       |  SELECT unnest(string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ')) AS term
       |  FROM doc2),
       |cnt AS (SELECT term, count(*) AS c FROM tok GROUP BY 1),
       |cms AS (
       |  SELECT r, ${cmsBucketSql("r", "term")} AS b,
       |         CAST(sum(c) AS BIGINT) AS cnt
       |  FROM cnt CROSS JOIN (SELECT unnest(range(0, $CmsDepth)) AS r) u
       |  GROUP BY 1, 2),
       |probe AS (SELECT unnest([${CmsProbeTerms.map("'" + _ + "'").mkString(", ")}]) AS term),
       |cells AS (
       |  SELECT p.term, u.r, ${cmsBucketSql("u.r", "p.term")} AS b
       |  FROM probe p CROSS JOIN (SELECT unnest(range(0, $CmsDepth)) AS r) u),
       |est AS (
       |  SELECT cells.term,
       |         CAST(min(COALESCE(cms.cnt, 0)) AS BIGINT) AS tf_est
       |  FROM cells LEFT JOIN cms ON cells.r = cms.r AND cells.b = cms.b
       |  GROUP BY 1)""".stripMargin

  private[operators] val CmsForgetOracle: String =
    s"WITH $CmsForgetCtes\nSELECT term, tf_est FROM est ORDER BY term"

  /** Policy oracle — the forget body served through both arms with the
    * decision booleans as literals (mask below θ, purge above). */
  private val CmsPolicyOracle: String =
    s"""WITH $CmsForgetCtes
       |SELECT arm, purged_serving, term, tf_est FROM (
       |  SELECT 'mask' AS arm, FALSE AS purged_serving, term, tf_est FROM est
       |  UNION ALL
       |  SELECT 'purge' AS arm, TRUE AS purged_serving, term, tf_est FROM est)
       |ORDER BY arm, term""".stripMargin

  /** Shared forget/purge oracle on the quantile axis — fresh histogram
    * quantiles over the reduced corpus, shard axis absent. */
  private val QuantileForgetOracle: String =
    s"""WITH doc2 AS (
       |  SELECT n_chars FROM documents
       |  WHERE NOT (doc_id % ${Ingest.ForgetMod} = ${Ingest.ForgetRem})),
       |h AS (
       |  SELECT CAST(n_chars // $HistBucketWidth AS BIGINT) AS bucket,
       |         count(*) AS n
       |  FROM doc2 GROUP BY 1),
       |c AS (
       |  SELECT bucket, n,
       |         CAST(sum(n) OVER (ORDER BY bucket) AS BIGINT) AS cum_n,
       |         CAST((SELECT sum(n) FROM h) AS BIGINT) AS total_n
       |  FROM h),
       |q AS (SELECT unnest([${QuantilePcts.mkString(", ")}]) AS q_pct)
       |SELECT CAST(q.q_pct AS INT) AS q_pct,
       |       min(c.bucket) AS bucket,
       |       CAST(min(c.bucket) * $HistBucketWidth AS BIGINT) AS lo_chars,
       |       CAST(min_by(c.cum_n, c.bucket) AS BIGINT) AS cum_n,
       |       max(c.total_n) AS total_n
       |FROM q JOIN c ON c.cum_n * 100 >= q.q_pct * c.total_n
       |GROUP BY 1 ORDER BY q_pct""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_heavy_hitters" ->
      s"""WITH tok AS ($TokCte),
         |cnt AS (SELECT term, count(*) AS c FROM tok GROUP BY 1),
         |cms AS (
         |  SELECT r, ${cmsBucketSql("r", "term")} AS b,
         |         CAST(sum(c) AS BIGINT) AS cnt
         |  FROM cnt CROSS JOIN (SELECT unnest(range(0, $CmsDepth)) AS r) u
         |  GROUP BY 1, 2),
         |probe AS (SELECT term, c FROM cnt ORDER BY c DESC, term LIMIT $CmsTopK),
         |cells AS (
         |  SELECT p.term, p.c, u.r, ${cmsBucketSql("u.r", "p.term")} AS b
         |  FROM probe p CROSS JOIN (SELECT unnest(range(0, $CmsDepth)) AS r) u)
         |SELECT cells.term, CAST(max(cells.c) AS BIGINT) AS tf_exact,
         |       min(cms.cnt) AS tf_est
         |FROM cells JOIN cms ON cells.r = cms.r AND cells.b = cms.b
         |GROUP BY 1 ORDER BY term""".stripMargin,
    // fresh CMS over the AUGMENTED corpus (base ∪ the % 101 copies) —
    // the probe list and the zero-cell COALESCE mirror cmsEstimateStored;
    // cell-sum associativity makes merged-stored ≡ fresh-replayed exact.
    "q_cms_merge" ->
      s"""WITH doc2 AS (
         |  SELECT text FROM documents
         |  UNION ALL
         |  SELECT text FROM documents WHERE doc_id % 101 = 0),
         |tok AS (
         |  SELECT unnest(string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ')) AS term
         |  FROM doc2),
         |cnt AS (SELECT term, count(*) AS c FROM tok GROUP BY 1),
         |cms AS (
         |  SELECT r, ${cmsBucketSql("r", "term")} AS b,
         |         CAST(sum(c) AS BIGINT) AS cnt
         |  FROM cnt CROSS JOIN (SELECT unnest(range(0, $CmsDepth)) AS r) u
         |  GROUP BY 1, 2),
         |probe AS (SELECT unnest([${CmsProbeTerms.map("'" + _ + "'").mkString(", ")}]) AS term),
         |cells AS (
         |  SELECT p.term, u.r, ${cmsBucketSql("u.r", "p.term")} AS b
         |  FROM probe p CROSS JOIN (SELECT unnest(range(0, $CmsDepth)) AS r) u)
         |SELECT cells.term,
         |       CAST(min(COALESCE(cms.cnt, 0)) AS BIGINT) AS tf_est
         |FROM cells LEFT JOIN cms ON cells.r = cms.r AND cells.b = cms.b
         |GROUP BY 1 ORDER BY term""".stripMargin,

    "q_cms_forget" -> CmsForgetOracle,
    "q_cms_purge" -> CmsForgetOracle,
    "q_cms_policy" -> CmsPolicyOracle,
    "q_quantile_forget" -> QuantileForgetOracle,
    "q_quantile_purge" -> QuantileForgetOracle,

    // exact per-lang distinct vocabulary over the augmented corpus,
    // plus the 5%-error band of DuckDB's OWN HLL
    // (approx_count_distinct) — each engine independently computes its
    // estimator's band (both 0 = both within 5 %), so the oracle
    // asserts a quantity it computed, not a constant
    "q_hll_merge" ->
      """WITH doc2 AS (
        |  SELECT lang, text FROM documents
        |  UNION ALL
        |  SELECT lang, text FROM documents WHERE doc_id % 101 = 0),
        |tok AS (
        |  SELECT lang,
        |         unnest(string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS term
        |  FROM doc2)
        |SELECT lang, CAST(count(DISTINCT term) AS BIGINT) AS exact_terms,
        |       CAST(floor(abs(CAST(approx_count_distinct(term) AS DOUBLE)
        |                      - count(DISTINCT term)) * 20
        |                  / count(DISTINCT term)) AS BIGINT) AS err_band_5pct
        |FROM tok GROUP BY 1 ORDER BY lang""".stripMargin,

    // per-lang card replay: exact counts, DuckDB's own HLL error band
    // (the two-sided q_hll_merge convention), median bucket by the
    // same integer coverage cut
    "q_lang_card" ->
      s"""WITH tok AS (
         |  SELECT lang,
         |         unnest(string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ')) AS term
         |  FROM documents),
         |base AS (
         |  SELECT lang, count(*) AS n_docs,
         |         CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |  FROM documents GROUP BY 1),
         |voc AS (
         |  SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
         |         CAST(count(DISTINCT term) AS BIGINT) AS distinct_terms,
         |         approx_count_distinct(term) AS est
         |  FROM tok GROUP BY 1),
         |h AS (
         |  SELECT lang, CAST(n_chars // $HistBucketWidth AS BIGINT) AS bucket,
         |         count(*) AS n
         |  FROM documents GROUP BY 1, 2),
         |c AS (
         |  SELECT lang, bucket,
         |         CAST(sum(n) OVER (PARTITION BY lang ORDER BY bucket) AS BIGINT) AS cum_n,
         |         CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS total_n
         |  FROM h),
         |med AS (
         |  SELECT lang, CAST(min(bucket) * $HistBucketWidth AS BIGINT) AS p50_chars_lo
         |  FROM c WHERE cum_n * 2 >= total_n GROUP BY 1)
         |SELECT b.lang, b.n_docs, v.n_tokens,
         |       CAST(b.sum_chars // b.n_docs AS BIGINT) AS mean_chars,
         |       v.distinct_terms,
         |       CAST(floor(abs(CAST(v.est AS DOUBLE) - v.distinct_terms) * 20
         |                  / v.distinct_terms) AS BIGINT) AS vocab_err_band_5pct,
         |       m.p50_chars_lo
         |FROM base b JOIN voc v USING (lang) JOIN med m USING (lang)
         |ORDER BY b.lang""".stripMargin,

    // fresh histogram over the augmented corpus, shard axis absent —
    // equality with the stored-merge serve IS the associativity proof
    "q_quantile_merge" ->
      s"""WITH doc2 AS (
         |  SELECT n_chars FROM documents
         |  UNION ALL
         |  SELECT n_chars FROM documents WHERE doc_id % 101 = 0),
         |h AS (
         |  SELECT CAST(n_chars // $HistBucketWidth AS BIGINT) AS bucket,
         |         count(*) AS n
         |  FROM doc2 GROUP BY 1),
         |c AS (
         |  SELECT bucket, n,
         |         CAST(sum(n) OVER (ORDER BY bucket) AS BIGINT) AS cum_n,
         |         CAST((SELECT sum(n) FROM h) AS BIGINT) AS total_n
         |  FROM h),
         |q AS (SELECT unnest([${QuantilePcts.mkString(", ")}]) AS q_pct)
         |SELECT CAST(q.q_pct AS INT) AS q_pct,
         |       min(c.bucket) AS bucket,
         |       CAST(min(c.bucket) * $HistBucketWidth AS BIGINT) AS lo_chars,
         |       CAST(min_by(c.cum_n, c.bucket) AS BIGINT) AS cum_n,
         |       max(c.total_n) AS total_n
         |FROM q JOIN c ON c.cum_n * 100 >= q.q_pct * c.total_n
         |GROUP BY 1 ORDER BY q_pct""".stripMargin,

    "q_pmi_pairs" ->
      s"""WITH tok0 AS ($TokCte),
         |tok AS (
         |  SELECT doc_id, term FROM (
         |    SELECT DISTINCT doc_id, term FROM tok0)
         |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY term)
         |          <= $PmiMaxDocTerms),
         |dfc AS (SELECT term, count(*) AS df FROM tok GROUP BY 1),
         |p AS (
         |  SELECT a.term AS t1, b.term AS t2, count(*) AS df_ab
         |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND a.term < b.term
         |  GROUP BY 1, 2),
         |n AS (SELECT count(*) AS n_docs FROM documents)
         |SELECT p.t1, p.t2, p.df_ab,
         |       round(ln(CAST(n.n_docs * p.df_ab AS DOUBLE) /
         |                CAST(da.df * db.df AS DOUBLE)), 6) AS pmi
         |FROM p
         |JOIN dfc da ON da.term = p.t1
         |JOIN dfc db ON db.term = p.t2
         |CROSS JOIN n
         |WHERE 2 * p.df_ab >= n.n_docs
         |ORDER BY t1, t2""".stripMargin
  )
}
