package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Par
import graft.functions.TextFunctions.{md5Long, tokens}
import graft.sources.Tables

/** Training-batch preparation: sequence packing and dataset mixing.
  *
  * The reference stops at retrieval (core/rag_utils.py builds
  * prompt context by concatenating chunks); a pipeline that FEEDS a
  * trainer needs the two steps after curation that neither the
  * reference nor the relational core covers:
  *
  *  - '''sequence packing''' — concatenate documents into
  *    fixed-token-budget training sequences (the GPT-style
  *    concat-and-chunk layout) so no step-time is wasted on padding;
  *  - '''dataset mixing''' — downsample over-represented strata so
  *    the training stream matches a target mixture (here: uniform
  *    over languages, the classic multilingual rebalance).
  *
  * Both are pure `Column` compositions (codegen-friendly, no UDFs)
  * and both are deterministic — identical output for any partitioning
  * or cluster size — which is what makes a 100 TB run auditable and
  * resumable.
  *
  * Scale shape: packing shuffles once on the shard key and sorts
  * within shards; shard count is a parameter, so at 100 TB shards
  * stay executor-sized (thousands of shards, each a few GB) and the
  * per-shard window never sees more than `corpus / nShards` rows.
  * Mixing is a broadcast of a per-stratum rate table (|langs| rows)
  * against the corpus scan — no shuffle at all on the big side.
  */
object Pack {

  /** Tokens per training sequence (defaultable; 256 keeps the gate
    * corpora multi-sequence per shard — real runs pass 2048/4096/8192).
    */
  val DefaultSeqTokens = 256

  /** Packing shards: documents are hash-sharded, then packed in
    * doc_id order within each shard. More shards = more parallelism
    * and smaller per-shard sorts; the assignment is deterministic
    * for any value, so this is purely a throughput knob.
    */
  val DefaultPackShards = 32

  private def uniform(docId: Column, salt: String): Column =
    md5Long(concat(lit(salt), docId.cast("string")), 1, 8)

  /** Per-stratum counts with normalized target weights `w` — the
    * |strata|-row frame both mixers derive their rates from. Empty
    * `shares` means uniform over observed strata; explicit shares are
    * normalized to sum 1, and strata without a share are dropped
    * (weight 0). A share key that matches NO observed stratum is a
    * typo by construction (the mix would silently lose that slice of
    * the target mixture), so it fails the query loudly: the check is
    * a `raise_error` branch inside the rates projection — evaluated
    * with the same |strata|-row aggregate the mix needs anyway, zero
    * extra jobs.
    */
  private def stratumWeights(spark: SparkSession, docs: DataFrame,
      stratum: String, shares: Map[String, Double]): DataFrame = {
    require(shares.values.forall(_ > 0), "target shares must be positive")
    val counts = docs.groupBy(col(stratum)).agg(count(lit(1)).as("n"))
    if (shares.isEmpty)
      // scalar-sized frame: the single-partition window is |strata| rows
      counts.withColumn("w", lit(1.0) / count(lit(1)).over(Window.partitionBy()))
    else {
      import spark.implicits._
      val total = shares.values.sum
      val wdf = shares.toSeq.toDF(stratum, "w_raw")
        .select(col(stratum), (col("w_raw") / total).as("w"))
      // right join keeps every share key; an unmatched one (n IS NULL)
      // raises with the offending key in the message
      counts.join(wdf, Seq(stratum), "right")
        .select(col(stratum),
          when(col("n").isNull, raise_error(concat(
              lit(s"datasetMix: share key '"), col(stratum),
              lit(s"' matches no observed '$stratum' stratum"))))
            .otherwise(col("n")).as("n"),
          col("w"))
    }
  }

  /** Concat-and-chunk sequence packing: shard documents by a content
    * hash of their id, order each shard by doc_id, lay the token
    * streams end to end, and cut a sequence boundary every `budget`
    * tokens. A document is assigned to the sequence containing its
    * first token (`seq_id`) at offset `tok_offset`; long documents
    * simply span boundaries, exactly like the standard pretraining
    * data layout — zero padding waste by construction.
    *
    * One shuffle (shard key), one within-shard sort, whole-stage
    * codegen end to end.
    */
  /** The shared presentation contract — see [[Present.presented]]. */
  private def presented(df: DataFrame, sorted: Boolean, keys: String*): DataFrame =
    Present.presented(df, sorted, keys: _*)

  def seqPack(spark: SparkSession, dir: String,
              budget: Int = DefaultSeqTokens,
              nShards: Int = DefaultPackShards,
              sorted: Boolean = true): DataFrame =
    seqPackOf(Tables.documents(spark, dir), budget, nShards, sorted)

  /** The packing core over ANY (doc_id, text) corpus — shared by the
    * raw-table query, [[trainPrep]]'s curated composition, and (in
    * semantics) streaming/PackStream.
    */
  private[operators] def seqPackOf(corpus: DataFrame,
      budget: Int, nShards: Int, sorted: Boolean = true): DataFrame =
    packLayout(corpus
      .select(col("doc_id"),
        (uniform(col("doc_id"), "pack:") % nShards).as("shard"),
        size(tokens(col("text"))).cast("long").as("n_tok")),
      budget, nShards, sorted)

  /** The layout step over an already-counted (doc_id, shard, n_tok)
    * frame: per-shard doc_id-ordered token cumsum, boundary every
    * `budget` tokens. Shared by the columnar whitespace path and the
    * tokenizer-seam path — ONE spelling of the packing math,
    * whatever produced the counts.
    */
  private def packLayout(counted: DataFrame, budget: Int, nShards: Int,
      sorted: Boolean): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(nShards > 0, s"nShards must be positive, got $nShards")
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    presented(counted
      .withColumn("start_tok", sum(col("n_tok")).over(w) - col("n_tok"))
      .select(col("doc_id"), col("shard"),
        expr(s"start_tok div $budget").as("seq_id"),
        (col("start_tok") % budget).as("tok_offset"),
        col("n_tok")), sorted, "doc_id")
  }

  /** [[seqPack]] parameterized by a pluggable [[graft.functions.Tokenizer]]
    * — the packing layout in the units the TRAINER counts in
    * (fertility-corrected when a real BPE artifact is plugged;
    * bit-identical to the columnar path on the whitespace stub —
    * TokenizerSpec pins both). Token counting runs through the
    * per-partition open() / batched tokenize() seam, the same shape
    * as Ingest.embedWith; the layout math is [[packLayout]], shared
    * with the columnar path.
    */
  def seqPackWith(spark: SparkSession, corpus: DataFrame,
                  tokenizer: graft.functions.Tokenizer,
                  budget: Int = DefaultSeqTokens,
                  nShards: Int = DefaultPackShards,
                  sorted: Boolean = true): DataFrame =
    packLayout(tokenCounts(spark, corpus, tokenizer)
        .select(col("doc_id"),
          (uniform(col("doc_id"), "pack:") % nShards).as("shard"),
          col("n_tok")),
      budget, nShards, sorted)

  /** (doc_id, n_tok) through the tokenizer seam — the counting body
    * shared by [[seqPackWith]] and the staged [[seqPackBpe]] counts
    * artifact: per-partition open(), batched tokenize, one long per
    * doc (never the token strings — the layout only needs counts, so
    * the shuffle stays O(docs), not O(tokens)).
    */
  private def tokenCounts(spark: SparkSession, corpus: DataFrame,
      tokenizer: graft.functions.Tokenizer): DataFrame = {
    import spark.implicits._
    corpus.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val enc = tokenizer.open()   // per-partition artifact load
        it.grouped(tokenizer.batchSize).flatMap { batch =>
          val toks = enc.tokenize(batch.map(_._2))
          // a short return would silently mis-count every later doc
          require(toks.size == batch.size,
            s"tokenizer returned ${toks.size} sequences for ${batch.size} texts")
          batch.map(_._1).zip(toks.map(_.size.toLong))
        }
      }
      .toDF("doc_id", "n_tok")
  }

  // --- BPE-tokenized packing under the oracle gate --------------------

  /** Merges learned for the gated [[seqPackBpe]] artifact, and the
    * deterministic md5-coin fraction of docs sampled to train it
    * (BpeModel.trainArtifactSampled — driver-side by design, like any
    * real tokenizer training run).
    */
  val BpeArtifactMerges = 48   // ~31-word synthetic vocab: 107 merges
                               // would re-merge EVERY word back to one
                               // symbol (fertility exactly 1 — a gate
                               // indistinguishable from whitespace);
                               // 48 fully merges only the frequent
                               // head, the tail stays multi-symbol
  /** Tokenizer-training sample TARGET in docs. The coin fraction is
    * derived PER CORPUS from a count ([[bpeSampleFracFor]]) instead of
    * being a fixed fraction: a fixed 0.25 of a 1024×-rung corpus
    * (2.56M docs) would trip trainArtifactSampled's maxDocs = 1M
    * require, while a tiny SF would train on a needlessly thin slice.
    * Target ≪ maxDocs leaves 4× headroom for coin-mass deviation.
    */
  val BpeSampleTargetDocs = 250000L

  /** The derived coin fraction: everything for corpora at or under the
    * target, else target/count snapped DOWN to the round4 grid (min
    * one grid step) — both engines could replay the coin cut exactly
    * if an oracle ever needed to (the CCNet calibFrac precedent).
    * Grid floor: a corpus beyond 1e4 × target docs would need a finer
    * grid; there the maxDocs require still fails loudly by design.
    */
  private[graft] def bpeSampleFracFor(nDocs: Long,
      target: Long = BpeSampleTargetDocs): Double =
    if (nDocs <= target) 1.0
    else math.max(1.0, math.floor(target.toDouble / nDocs * 1e4)) / 1e4

  /** Staging-key tag for the BPE artifacts: embeds the merge count and
    * the sampling scheme so a parameter change can never serve a stale
    * counts table (and the oracle's glob, which carries the same tag,
    * never matches one). `a<targetK>k` = the adaptive round4-grid
    * sample introduced in round 16 (fixed-frac tables carry no tag).
    */
  private def bpeStageTag =
    s"${BpeArtifactMerges}m_a${BpeSampleTargetDocs / 1000}k"

  /** The counts-table key prefix the oracle's staging glob carries
    * (SparkEntry's sequence_pack_bpe SQL) — one definition with the
    * writer above.
    */
  private[graft] def bpeCountsKeyPrefix = s"bpe_counts_$bpeStageTag"

  /** Content-derived identity of a (doc_id, text) corpus, computable
    * IDENTICALLY in DuckDB (count + two order-independent sums of
    * 32-bit md5 prefixes over doc_id:text): the address the staged
    * BPE counts table carries, so the static oracle SQL can select
    * its own corpus's counts out of the staging glob — different SFs
    * and rungs stage under different keys and can never serve each
    * other's counts. Sums of < 2^32 values over < 2^20 docs stay well
    * inside long range on both engines.
    */
  private[graft] def corpusCountAndKey(docs: DataFrame): (Long, String) = {
    def h(start: Int) = md5Long(
      concat(col("doc_id").cast("string"), lit(":"), col("text")), start, 8)
    val r = docs.agg(count(lit(1)).cast("long"),
      sum(h(1)).cast("long"), sum(h(9)).cast("long")).head()
    (r.getLong(0), s"${r.getLong(0)}-${r.getLong(1)}-${r.getLong(2)}")
  }

  private[graft] def corpusContentKey(docs: DataFrame): String =
    corpusCountAndKey(docs)._2

  /** The staged (doc_id, n_tok, corpus_key) BPE counts table behind
    * [[seqPackBpe]] — built once per corpus: train the v2
    * frozen-vocab artifact from a deterministic sample, count every
    * doc through the BpeTokenizer seam, stage as parquet. A fresh JVM
    * (the warm bench pass, the oracle's DuckDB read) consumes the
    * staged table instead of re-encoding the corpus; the oracle
    * replays the layout from these counts (no BPE in DuckDB), which
    * is exactly the split a production gate runs — the encoder is
    * pinned by determinism/arity/fertility specs, the layout math by
    * the hash-exact DuckDB diff.
    */
  private[graft] def bpeCounted(spark: SparkSession, dir: String): DataFrame =
    graft.DfCache.getOrCompute(spark, s"bpe_counts:$dir") {
      val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      val fp = graft.DfCache.inputFingerprint(spark, s"$dir/documents.parquet")
      val (nDocs, ck) = corpusCountAndKey(docs)
      val artDir = graft.DfCache.publishStaged(spark,
        s"bpe_artifact_${bpeStageTag}_$ck", fp, "_SUCCESS") { tmp =>
        val (m, v) = graft.functions.BpeModel.trainArtifactSampled(
          docs, BpeArtifactMerges, bpeSampleFracFor(nDocs))
        graft.functions.BpeModel.write(
          new java.io.File(tmp, "merges.gbp").getPath, m, v)
      }
      graft.DfCache.stagedFrame(spark, s"bpe_counts_${bpeStageTag}_$ck", fp) {
        tokenCounts(spark, docs,
          new graft.functions.BpeTokenizer(s"$artDir/merges.gbp"))
          .withColumn("corpus_key", lit(ck))
      }
    }

  /** [[seqPack]] in BPE-token units under the full oracle gate: the
    * packing layout a real trainer runs — counts from a frozen v2 BPE
    * artifact (fertility > 1 vs whitespace), layout math identical to
    * sequence_pack ([[packLayout]], one spelling). The per-doc counts
    * ride the output (`n_tok`), so the result is self-describing the
    * way the whitespace query is.
    */
  def seqPackBpe(spark: SparkSession, dir: String,
                 budget: Int = DefaultSeqTokens,
                 nShards: Int = DefaultPackShards,
                 sorted: Boolean = true): DataFrame =
    packLayout(bpeCounted(spark, dir)
        .select(col("doc_id"),
          (uniform(col("doc_id"), "pack:") % nShards).as("shard"),
          col("n_tok")),
      budget, nShards, sorted)

  /** Curate → pack, end to end: the seven-gate curation funnel's
    * survivors (operators/Curate) laid out as training sequences —
    * the full raw-crawl-to-trainer-input composition in ONE
    * declarative plan. The survivor frame is the session-cached s7
    * stage the funnel already computes, so running the funnel report,
    * the apply step and this packing in one session pays the curation
    * chain once.
    */
  def trainPrep(spark: SparkSession, dir: String,
                budget: Int = DefaultSeqTokens,
                nShards: Int = DefaultPackShards,
                sorted: Boolean = true): DataFrame =
    seqPackOf(Curate.survivors(spark, dir), budget, nShards, sorted)

  /** Curate → MIX → pack: [[trainPrep]] with the production mixing
    * stage between curation and layout. The survivor corpus includes
    * injected ids absent from the raw table, so the stratum cannot be
    * a raw-table column join — it is ASSIGNED from the text itself
    * via the lang_id argmax (TextAnalysis.predictedLang, the single
    * spelling shared with the lang_id query), which is also what a
    * real crawl pipeline does: language is a classifier output, not
    * input metadata. The mix downsamples survivors to a uniform
    * mixture over assigned languages (explicit `shares` override),
    * then the packer lays the kept set out as training sequences.
    *
    * Plan shape: the mix adds ONE broadcast join (|strata| rates) and
    * a filter over the cached survivor frame — the corpus side still
    * reaches the packer's shard exchange without any extra shuffle,
    * so the whole composition keeps sequence_pack's one-data-shuffle
    * property (plan-guarded in PlanAuditSpec).
    */
  def trainPrepMixed(spark: SparkSession, dir: String,
                     budget: Int = DefaultSeqTokens,
                     nShards: Int = DefaultPackShards,
                     shares: Map[String, Double] = Map.empty,
                     sorted: Boolean = true): DataFrame = {
    // consumed TWICE by mixKeepOf (rates aggregate + keep join); the
    // three profile scores re-tokenized the survivor corpus per
    // consumer. r18 (verdict #4): STAGED like trainPrepScored's kept
    // frame instead of a per-invocation persist — the lang-classified
    // survivor corpus is a detect-stage artifact (classifier output
    // over the frozen curation survivors, deterministic in the corpus
    // fingerprint), so a fresh JVM reads the parquet table instead of
    // re-running curate + three profile scores, rebuilds are visible
    // to Bench's staging_rebuilds exclusion, and the old
    // per-invocation persist (which was never unpersisted — one
    // leaked MEMORY_AND_DISK frame per call) is gone.
    val fp = graft.DfCache.inputFingerprint(spark, s"$dir/documents.parquet")
    val scored = graft.DfCache.getOrCompute(spark, s"surv_mixlang:$dir")(
      graft.DfCache.stagedFrame(spark, s"surv_mixlang:$dir", fp)(
        Curate.survivors(spark, dir).select(
          col("doc_id"), col("text"),
          TextAnalysis.predictedLang(
            TextAnalysis.profileScore(col("text"), TextAnalysis.Profiles(0)._2),
            TextAnalysis.profileScore(col("text"), TextAnalysis.Profiles(1)._2),
            TextAnalysis.profileScore(col("text"), TextAnalysis.Profiles(2)._2))
            .as("mix_lang"))))
    seqPackOf(mixKeepOf(spark, scored, "mix_lang", shares)
        .select(col("doc_id"), col("text")),
      budget, nShards, sorted)
  }

  /** Curate → PERPLEXITY-KEEP → mix → pack: [[trainPrepMixed]] with
    * the model-based quality gate between curation and mixing — the
    * full modern pretraining composition (CCNet's LM filter slotted
    * into the funnel). The bigram LM is self-trained ON THE SURVIVOR
    * corpus (the cleaned text is the best in-pipeline reference;
    * production swaps in an offline reference-trained artifact via
    * Perplexity.modelOf/scoreAgainst), the tail tercile is dropped
    * against the round4-snapped cutoff artifact, and the kept set
    * flows through the same mix + pack stages as trainPrepMixed.
    *
    * Survivors with < 2 tokens are unscoreable by a bigram LM and are
    * DROPPED with the tail (an inner join against the score table —
    * a one-token document is not trainable text).
    *
    * Plan shape: the scoring stage adds the word-count model shuffles
    * and a doc_id semi-join over the cached survivor frame; from the
    * keep onward the composition keeps trainPrepMixed's shape (rates
    * broadcast, one data shuffle into the packer).
    */
  def trainPrepScored(spark: SparkSession, dir: String,
                      budget: Int = DefaultSeqTokens,
                      nShards: Int = DefaultPackShards,
                      shares: Map[String, Double] = Map.empty,
                      sorted: Boolean = true,
                      // the smoothing family of the perplexity-keep
                      // stage — a NAMED Perplexity.Scorer, whose tag
                      // keys the staged kept-frame artifact, so the
                      // function and the artifact name can never be
                      // mismatched (Scorer.AddOne / .interp() / .kn())
                      scorer: Perplexity.Scorer =
                        Perplexity.Scorer.AddOne): DataFrame = {
    // STAGE the KEPT survivor frame (scores, cutoffs, keep filter,
    // stratum assignment folded in) as a parquet artifact keyed on
    // the corpus fingerprint — the detect/apply boundary every other
    // heavy curation stage here uses (the pplx_scored pattern). The
    // mix references its corpus twice (rates build + join) and every
    // un-staged reference re-runs the cutoff agg + broadcast +
    // semi-join chain (~4 s at sf0.1 each — timed stage by stage
    // after the first cut benched at 25.7 s; SURVEY.md,
    // "pipeline_trainprep_scored staged").
    // Staging rather than a session memo + localCheckpoint (the r12
    // shape) because (a) a fresh JVM reads the artifact instead of
    // recomputing the whole curate→score→keep chain, (b) the rebuild
    // is visible to Bench's staging_rebuilds exclusion instead of
    // silently landing in a timed pass, and (c) localCheckpoint
    // blocks are non-reliable on a real cluster (lost with their
    // executor) — a parquet stage is the 100 TB shape.
    val fp = graft.DfCache.inputFingerprint(spark, s"$dir/documents.parquet")
    // r18: `:$dir` in the staging key — without it the sf0.01 gate
    // run and the sf0.1 bench run swept each other's artifact
    // (sweepStaleFingerprints treats sibling fingerprints of one key
    // as stale), so every fresh JVM rebuilt this stage
    val baseName =
      if (scorer.tag == "addone") "pplx_surv_kept"
      else s"pplx_surv_kept_${scorer.tag}"
    val stageName = s"$baseName:$dir"
    val scored = graft.DfCache.getOrCompute(spark, s"$baseName:$dir") {
      // score table persisted only while the staged write runs; the
      // build path unpersists it once the artifact is on disk — in a
      // finally, so a failed write can't pin the score table for the
      // session (the staged-table hit path never evaluates this block)
      var sc: DataFrame = null
      try {
        graft.DfCache.stagedFrame(spark, stageName, fp) {
          val surv = Curate.survivors(spark, dir)
          // the scorer carries its OWN model builder (bigram families
          // share modelOf; kn3/kn5 bring modelOf3/modelOf5) — one
          // spelling for all five smoothing families. Higher orders
          // score only docs long enough for their n-gram (>= n
          // tokens), so the inner keep-join drops shorter survivors
          // with the tail: a caller picking kn5 asks for exactly that.
          sc = scorer.score(scorer.train(spark, surv), surv)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val keptIds = sc.crossJoin(broadcast(Perplexity.cutsOf(sc)))
            .where(Perplexity.bucketOf(col("xent"), col("c1"), col("c2")) =!= "tail")
            .select(col("doc_id"))
          surv.join(keptIds, Seq("doc_id"), "left_semi").select(
            col("doc_id"), col("text"),
            TextAnalysis.predictedLang(
              TextAnalysis.profileScore(col("text"), TextAnalysis.Profiles(0)._2),
              TextAnalysis.profileScore(col("text"), TextAnalysis.Profiles(1)._2),
              TextAnalysis.profileScore(col("text"), TextAnalysis.Profiles(2)._2))
              .as("mix_lang"))
        }
      } finally {
        if (sc != null) sc.unpersist()
      }
    }
    seqPackOf(mixKeepOf(spark, scored, "mix_lang", shares)
        .select(col("doc_id"), col("text")),
      budget, nShards, sorted)
  }

  /** Packing efficiency audit: per shard, how many documents and
    * tokens landed there, how many sequences that cuts into, and the
    * fill ratio (tokens / capacity of the cut sequences — the only
    * under-fill in concat-and-chunk is each shard's final partial
    * sequence). The report a capacity planner reads before a 100 TB
    * packing run.
    */
  def packStats(spark: SparkSession, dir: String,
                budget: Int = DefaultSeqTokens,
                nShards: Int = DefaultPackShards): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(nShards > 0, s"nShards must be positive, got $nShards")
    Tables.documents(spark, dir)
      .select((uniform(col("doc_id"), "pack:") % nShards).as("shard"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("total_tokens"))
      .withColumn("n_seqs", expr(s"(total_tokens + ${budget - 1}) div $budget"))
      .withColumn("fill_ratio",
        Par.round4(col("total_tokens").cast("double") /
          (col("n_seqs") * budget).cast("double")))
      .orderBy("shard")
  }

  /** Target-mixture downsampling over a stratum column (default:
    * language — the classic multilingual rebalance). Given target
    * shares `w_s` (default uniform over observed strata), the largest
    * achievable corpus under downsampling-only is `T = min_s n_s/w_s`;
    * each stratum keeps `w_s·T / n_s` of its documents via the same
    * deterministic md5 coin as [[Dedup.deterministicSample]] — so the
    * smallest stratum is kept whole and every other stratum is cut to
    * match it. Rates are computed on a |strata|-row aggregate and
    * broadcast; the corpus side is a scan + filter, no shuffle.
    */
  def datasetMix(spark: SparkSession, dir: String,
                 stratum: String = "lang",
                 shares: Map[String, Double] = Map.empty,
                 sorted: Boolean = true): DataFrame =
    presented(
      mixKeepOf(spark, Tables.documents(spark, dir), stratum, shares)
        .select(col("doc_id"), col(stratum), Par.round4(col("rate")).as("rate")),
      sorted, "doc_id")

  /** TEMPERATURE-weighted keep rates over a stratum — the multilingual
    * sampler of XLM (Lample & Conneau 2019, α = 0.5; the same family
    * as mC4/XLM-R's α = 0.3): expected kept counts ∝ n_s^α, so
    * high-resource strata are downsampled SOFTLY (sqrt-proportional)
    * instead of cut to the smallest stratum as [[mixRatesOf]]'s
    * uniform-share mix does. Under downsampling-only the smallest
    * stratum is kept whole and every other keeps `(n_min/n_s)^(1-α)`.
    *
    * α is FIXED at 1/2: the rate is then one IEEE sqrt of an exact
    * integer ratio — correctly rounded in every IEEE engine, so the
    * DuckDB oracle reproduces each keep decision bit-for-bit. A
    * general pow() carries no such guarantee (libm powers differ by
    * ULPs across engines), which would make the coin comparison
    * engine-dependent exactly at the boundary. Like [[mixRatesOf]],
    * this |strata|-row table is the epoch-boundary artifact a
    * streaming deployment freezes and hands to MixStream.mixApply.
    */
  def mixTemperatureRatesOf(corpus: DataFrame, stratum: String): DataFrame =
    corpus.groupBy(col(stratum)).agg(count(lit(1)).as("n"))
      .withColumn("nmin", min(col("n")).over(Window.partitionBy()))
      .select(col(stratum),
        sqrt(col("nmin").cast("double") / col("n").cast("double")).as("rate"))

  /** [[datasetMix]]'s temperature variant: keep each stratum at its
    * [[mixTemperatureRatesOf]] rate via the deterministic md5 coin
    * (salt `mixt:` — decorrelated from the uniform mix's `mix:` coin,
    * so composing the two samplers never reuses randomness). Same
    * scale shape as [[datasetMix]]: the rates are a broadcast
    * |strata|-row table, the corpus side is a scan + filter, no
    * shuffle.
    */
  def datasetMixTemperature(spark: SparkSession, dir: String,
                            stratum: String = "lang",
                            sorted: Boolean = true): DataFrame = {
    val docs = Tables.documents(spark, dir)
    presented(
      docs.join(broadcast(mixTemperatureRatesOf(docs, stratum)), stratum)
        .where(uniform(col("doc_id"), "mixt:").cast("double") / 4294967296.0
          < col("rate"))
        .select(col("doc_id"), col(stratum), Par.round4(col("rate")).as("rate")),
      sorted, "doc_id")
  }

  /** The downsampling-mix core over ANY corpus carrying `stratum`:
    * returns the kept rows (every input column) plus their stratum's
    * keep `rate` — the composable form [[datasetMix]] presents and
    * [[trainPrepMixed]] feeds to the packer. Rates are a broadcast
    * |strata|-row table; the corpus side is a scan + filter, no
    * shuffle.
    */
  /** The downsampling mix's |strata|-row keep-rate table over ANY
    * corpus carrying `stratum` — capacity `T = min_s n_s/w_s`, rate
    * `w_s·T/n_s`. Public because this IS the epoch-boundary artifact
    * a streaming deployment freezes: compute it here from the corpus
    * snapshot, hand it to streaming/MixStream.mixApply for the
    * epoch, recompute at the next boundary (see MixStream's scaladoc
    * for why mixing cannot honestly self-adjust mid-epoch).
    */
  def mixRatesOf(spark: SparkSession, corpus: DataFrame, stratum: String,
      shares: Map[String, Double] = Map.empty): DataFrame =
    stratumWeights(spark, corpus, stratum, shares)
      .withColumn("capacity",
        min(col("n").cast("double") / col("w")).over(Window.partitionBy()))
      .select(col(stratum),
        least(lit(1.0), col("w") * col("capacity") / col("n")).as("rate"))

  private[operators] def mixKeepOf(spark: SparkSession, corpus: DataFrame,
      stratum: String, shares: Map[String, Double] = Map.empty): DataFrame =
    corpus
      .join(broadcast(mixRatesOf(spark, corpus, stratum, shares)), stratum)
      .where(uniform(col("doc_id"), "mix:").cast("double") / 4294967296.0
        < col("rate"))

  /** Hard ceiling on per-document repetition in [[datasetMixEpochs]]
    * — past a handful of epochs, repeating data hurts more than the
    * mixture helps, and an unboundedly small stratum must not blow up
    * the output volume.
    */
  val MaxEpochs = 16

  /** Target-mixture UPSAMPLING over a stratum — [[datasetMix]]'s dual.
    * Downsampling-only mixing cuts every stratum to the smallest; when
    * the under-represented strata are too precious to waste the rest,
    * the standard alternative repeats them: capacity `T = max_s
    * n_s/w_s` (the largest stratum is kept exactly once), every
    * stratum emits `need_s = w_s·T` document-copies as `floor(need/n)`
    * whole epochs plus one extra copy for documents whose
    * deterministic coin falls under the fractional epoch — capped at
    * [[MaxEpochs]]. Output: one row per emitted copy (doc_id,
    * stratum, copy_idx), the multiset a trainer's sampler consumes.
    * Same broadcast-rates / shuffle-free-scan shape as [[datasetMix]];
    * output volume ≤ min(strata·max_s n_s, MaxEpochs·corpus).
    */
  def datasetMixEpochs(spark: SparkSession, dir: String,
                       stratum: String = "lang",
                       shares: Map[String, Double] = Map.empty,
                       maxEpochs: Int = MaxEpochs,
                       sorted: Boolean = true): DataFrame = {
    require(maxEpochs > 0, s"maxEpochs must be positive, got $maxEpochs")
    val docs = Tables.documents(spark, dir)
    val need = col("w") * col("capacity") / col("n")
    val rates = stratumWeights(spark, docs, stratum, shares)
      .withColumn("capacity",
        max(col("n").cast("double") / col("w")).over(Window.partitionBy()))
      .select(col(stratum),
        floor(need).as("base_copies"),      // BIGINT in Spark
        (need - floor(need)).as("frac"))
    presented(docs
      .join(broadcast(rates), stratum)
      .withColumn("n_copies", least(
        col("base_copies") +
          when(uniform(col("doc_id"), "epoch:").cast("double") / 4294967296.0
            < col("frac"), 1L).otherwise(0L),
        lit(maxEpochs.toLong)))
      .where(col("n_copies") > 0)   // always true (need/n ≥ 1); guards explode
      .select(col("doc_id"), col(stratum),
        explode(sequence(lit(0L), col("n_copies") - 1)).as("copy_idx")),
      sorted, "doc_id", "copy_idx")
  }
}
