package graft.corpus

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructField}

import graft.parsers.{ParseStage, RowParser}

/** Corpus down-sampling + vocabulary for training-data curation — the
  * operations that sit next to dedup in a real pipeline (balance languages
  * and sources, inspect the token distribution).
  *
  * Sampling is DETERMINISTIC, not `rand()`-based: a row is kept iff the
  * first 8 md5 hex digits of its key fall below the stratum's threshold.
  * Stage retries, resumed jobs and the DuckDB oracle all reproduce the
  * identical sample (the repo's determinism rule — content-derived
  * decisions only), and the per-row decision runs in the scan stage with
  * zero shuffles. Lexicographic comparison of fixed-width lowercase hex is
  * order-isomorphic to the numeric value, so the same predicate is
  * expressible in any engine with md5().
  */
object Sampling {

  /** The threshold under which a uniform md5-prefix draw keeps a row with
    * probability `fraction`. Fraction ≥ 1.0 returns "g" — lexicographically
    * above every hex prefix, so keep-all really keeps ALL rows (a strict
    * `< "ffffffff"` would drop the 1-in-2^32 prefix-ffffffff rows, which
    * exist at the target corpus scale).
    */
  def thresholdHex(fraction: Double): String =
    if (fraction >= 1.0) "g"
    else {
      val t = math.max(fraction, 0.0)
      f"${(t * 4294967296.0).toLong}%08x"
    }

  /** Round to 6 significant figures with the exact double arithmetic a SQL
    * oracle reproduces (`round(x/p)*p`, half-up for positive = DuckDB
    * `round()`). Applied to every driver-computed rate/threshold that
    * gates a BOOLEAN downstream: the raw value comes from pow/sum doubles
    * the two engines associate differently, a ulp flips the boolean, and
    * no output rounding can absorb a flipped boolean.
    */
  private[corpus] def roundSig6d(x: Double): Double =
    if (x == 0.0) 0.0
    else {
      val p = math.pow(10.0, math.floor(math.log10(math.abs(x))) - 5)
      math.round(x / p) * p
    }

  /** Uniform deterministic sample: keep ≈`fraction` of rows, decided by
    * md5(key). Scan-stage predicate, no shuffle, no state.
    */
  def sample(df: DataFrame, key: Column, fraction: Double): DataFrame =
    df.filter(substring(md5(key.cast("string")), 1, 8) < lit(thresholdHex(fraction)))

  /** Stratified deterministic sample: per-stratum keep fractions, e.g.
    * down-weight over-represented languages
    * (`Map("en" -> 0.25, "de" -> 1.0)`). Strata absent from the map keep
    * `defaultFraction`. One scan-stage CASE over the stratum column —
    * at 100 TB this is a filter pushed into the parquet scan, not a
    * `sampleBy` driver round-trip.
    */
  def sampleStratified(
      df: DataFrame, key: Column, stratum: Column,
      fractions: Map[String, Double],
      defaultFraction: Double = 1.0): DataFrame = {
    val threshold = fractions.foldLeft(lit(thresholdHex(defaultFraction))) {
      case (acc, (s, f)) => when(stratum === s, lit(thresholdHex(f))).otherwise(acc)
    }
    df.filter(substring(md5(key.cast("string")), 1, 8) < threshold)
  }

  /** Deterministic per-stratum exemplars: the k docs per stratum whose
    * md5(seed ⧺ key) sorts first — the "example rows per source" a corpus
    * datasheet publishes next to its aggregates (unbiased w.r.t. position
    * in the input, stable across reruns and engines). One window per
    * stratum ordered by the hash; the frame streams, so a mega-stratum
    * costs a scan, not memory. Output: input columns + `exemplar_rank`
    * (1..k).
    */
  def exemplars(
      df: DataFrame, key: Column, stratum: Column, k: Int,
      seed: String = "exemplar:"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = md5(concat(lit(seed), key.cast("string")))
    val w = Window.partitionBy(stratum).orderBy(h.asc, key.asc)
    df.withColumn("exemplar_rank", row_number().over(w))
      .filter(col("exemplar_rank") <= k)
  }

  /** Leakage-safe dataset-split label ("train"/"valid"/"test" or any
    * names + weights, normalized): decided by md5 of the KEY, so pass the
    * near-dup CLUSTER id (from [[Dedup.resolveClusters]]) and every member
    * of a duplicate cluster lands in the SAME split — a near-duplicate of
    * a training document can never leak into test. One scan-stage CASE
    * over fixed-width hex (same order-isomorphism argument as [[sample]]),
    * engine-portable, zero shuffles beyond the clustering itself.
    */
  def splitLabel(key: Column, splits: Seq[(String, Double)]): Column = {
    require(splits.nonEmpty && splits.forall(_._2 > 0.0),
      s"splits need positive weights, got $splits")
    val total = splits.map(_._2).sum
    val cum = splits.map(_._2 / total).scanLeft(0.0)(_ + _).tail
    val h = substring(md5(concat(lit("split:"), key.cast("string"))), 1, 8)
    splits.init.zip(cum.init).foldRight(lit(splits.last._1): Column) {
      case (((name, _), c), acc) => when(h < lit(thresholdHex(c)), lit(name)).otherwise(acc)
    }
  }

  /** Benchmark decontamination: flag corpus docs sharing at least `minHits`
    * distinct word k-shingles with any benchmark/eval doc (the n-gram
    * overlap check run before training on web-scale corpora). Posting-list
    * join on shingle md5s: only (shingle_hash, id) rows shuffle — never the
    * texts — and the benchmark side is tiny relative to the corpus, so
    * Catalyst broadcasts its postings. Returns
    * (doc_id, bench_id, n_shared); decontaminate = anti-join docs against
    * the distinct doc_ids of this frame.
    */
  def contamination(
      docs: DataFrame, id: Column, text: Column,
      bench: DataFrame, benchId: Column, benchText: Column,
      shingleK: Int = 8, minHits: Int = 1): DataFrame = {
    Candidates.postings(Candidates.shingleTable(docs, id, text, shingleK))
      .join(benchPostings(bench, benchId, benchText, shingleK), Seq("gh"))
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("n_shared")) // shingles are distinct per side
      .filter(col("n_shared") >= minHits)
  }

  /** Shingle-hash postings `(bench_id, gh)` of the eval side. */
  private def benchPostings(
      bench: DataFrame, benchId: Column, benchText: Column, shingleK: Int): DataFrame =
    Candidates.postings(Candidates.shingleTable(bench, benchId, benchText, shingleK))
      .withColumnRenamed("doc_id", "bench_id")

  /** Context-length chunking with overlap — split long documents into
    * word-window chunks of `chunkWords` words advancing by
    * `chunkWords − overlapWords` (the long-document splitter in front of
    * tokenize/pack for pretraining, and the standard RAG chunker). Chunk
    * boundaries are pure arithmetic on the whitespace token index, so the
    * whole operator is a scan-stage explode — no shuffle at any corpus
    * size — and any engine recomputes the identical chunks.
    *
    * Chunk i covers words [i·step, i·step + chunkWords); the count is
    * ceil((n − overlap) / step) clamped to ≥ 1, so a doc shorter than one
    * chunk emits itself whole and the final chunk may be short (never
    * empty). Output: (input columns) + (chunk_idx int, chunk_text string,
    * chunk_words int).
    */
  def chunkByWords(
      docs: DataFrame, text: Column,
      chunkWords: Int, overlapWords: Int = 0): DataFrame = {
    require(chunkWords >= 1, s"chunkWords must be >= 1, got $chunkWords")
    require(overlapWords >= 0 && overlapWords < chunkWords,
      s"overlap must be in [0, chunkWords), got $overlapWords")
    val step = chunkWords - overlapWords
    val w = split(text, " ")
    val n = size(w)
    val nChunks = greatest(lit(1),
      ceil((n - lit(overlapWords)).cast("double") / lit(step)).cast("int"))
    docs
      .withColumn("__w", w)
      .withColumn("chunk_idx",
        explode(sequence(lit(0), nChunks - lit(1))))
      .withColumn("chunk_text",
        array_join(slice(col("__w"), col("chunk_idx") * step + 1, lit(chunkWords)), " "))
      .withColumn("chunk_words",
        least(lit(chunkWords), size(col("__w")) - col("chunk_idx") * step))
      .drop("__w")
  }

  /** Per-eval-doc n-gram NOVELTY / memorization audit — [[contamination]]
    * run in the opposite direction and reported per BENCHMARK doc: what
    * fraction of each eval doc's distinct word k-shingles occurs anywhere
    * in the training corpus (the overlap methodology of the dedup/
    * memorization literature — high overlap means the eval item may be
    * answered from memory, and the contamination threshold should be
    * audited, not assumed). Returns one row per eval doc:
    * (bench_id, n_shingles, n_hit, novelty = 1 − hit fraction).
    *
    * Scale shape: the eval side is tiny, so its postings BROADCAST; the
    * corpus side projects to shingle hashes in the scan stage and
    * map-side-joins against that broadcast — the corpus never shuffles,
    * and the per-bench distinct-hit count aggregates only the joined
    * survivors (at most |bench shingles| × occurrences). Eval docs with
    * zero overlap still report (LEFT join): novelty 1.0. Eval docs
    * shorter than `shingleK` words have no shingles and are dropped —
    * they carry no signal for this audit.
    */
  def noveltyAudit(
      corpus: DataFrame, id: Column, text: Column,
      bench: DataFrame, benchId: Column, benchText: Column,
      shingleK: Int = 8): DataFrame = {
    val benchPost = benchPostings(bench, benchId, benchText, shingleK)
    val totals = benchPost.groupBy("bench_id")
      .agg(count(lit(1)).as("n_shingles")) // shingles are distinct per doc
    val hits = Candidates.postings(Candidates.shingleTable(corpus, id, text, shingleK)).select("gh")
      .join(broadcast(benchPost), Seq("gh"))
      .groupBy("bench_id")
      .agg(countDistinct(col("gh")).as("n_hit"))
    totals.join(hits, Seq("bench_id"), "left")
      .select(col("bench_id"), col("n_shingles"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (lit(1.0) - coalesce(col("n_hit"), lit(0L)).cast("double")
          / col("n_shingles")).as("novelty"))
  }

  /** Token-budget document packing — group documents into training packs of
    * ≈`budget` tokens (the sequence-packing step before tokenized shards
    * are written). Deterministic and fully parallel:
    *
    *  - the caller-supplied deterministic `shard` key (pmod of the id,
    *    Skew.salt — never rand()) splits the corpus into independent
    *    packing streams; packs never cross shards, so 100 TB packs with
    *    zero coordination — one shuffle on the shard key;
    *  - within a shard, docs in `order` accumulate left-to-right and
    *    `pack_id = floor((cumsum − size) / budget)` — the standard
    *    approximate packing where a pack may overrun by less than one
    *    document (exact next-fit needs a sequential scan; this stays a
    *    window cumsum and overruns ≤ max doc size, which training-data
    *    packing tolerates by truncation);
    *  - docs larger than the budget get a pack of their own by the same
    *    formula.
    *
    * Output: input columns + (shard, pack_id, pack_pos). Same formula is
    * one SQL window — oracle-recomputable in any engine.
    */
  def packByBudget(
      docs: DataFrame, shard: Column, size: Column, order: Column,
      budget: Long): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    import org.apache.spark.sql.expressions.Window
    // shard must be DETERMINISTIC (pmod of the id / Skew.salt — never
    // rand(): stage retries must re-derive identical packs)
    val w = Window.partitionBy(col("shard")).orderBy(order.asc)
    docs
      .withColumn("shard", shard)
      .withColumn("__cum", sum(size.cast("long")).over(w))
      .withColumn("pack_id",
        floor((col("__cum") - size.cast("long")) / budget))
      .withColumn("pack_pos",
        row_number().over(Window.partitionBy(col("shard"), col("pack_id"))
          .orderBy(order.asc)))
      .drop("__cum")
  }

  /** Best-fit-decreasing token-budget packing — the padding-waste-aware
    * upgrade of [[packByBudget]]. Within each deterministic shard, docs are
    * taken LARGEST FIRST and each goes into the open pack with the
    * smallest remaining capacity that still fits (ties → lowest pack id);
    * no fit opens a new pack. Classic BFD (Johnson 1973), the standard
    * sequence-packing heuristic for training shards: unlike
    * [[packByBudget]]'s window cumsum (which may OVERRUN a pack by up to
    * one doc and relies on truncation), BFD never exceeds `budget` for
    * docs that fit it, and its utilization ≥ first-fit/next-fit on the
    * same input.
    *
    * Batch shape: packing is inherently sequential, so the parallel unit
    * is the shard — one hash shuffle on the shard key, then a per-shard
    * fold in one `Generate` (a non-deterministic
    * [[graft.parsers.ParseGenerator]]) over the partition-local sort, with
    * O(open packs) state and an ordered-multiset best-fit lookup
    * (O(log packs) per doc; shards are contiguous after the sort, so state
    * resets on the key change and never holds more than one shard). No
    * predicate on an input column is pushed below the fold. 100 TB packs
    * with zero coordination by choosing enough shards, exactly like
    * [[packByBudget]].
    *
    * Deterministic end-to-end: shard/order must be content-derived (never
    * rand()); the (size desc, order asc) visit order and the tie rules
    * make the assignment a pure function of the input — stage retries and
    * the DuckDB oracle (a recursive CTE stepping the same rules) reproduce
    * identical packs.
    *
    * Docs larger than the budget open their own pack (remaining goes
    * negative, so only zero-size docs could ever join — same rule as the
    * oracle's `rem >= size` filter). Output: input columns + (shard,
    * pack_id long — dense from 0 per shard in creation order, pack_pos
    * int — 1-based insertion order within the pack).
    */
  def packByBudgetBfd(
      docs: DataFrame, shard: Column, size: Column, order: Column,
      budget: Long): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    val keyed = docs.withColumn("shard", shard)
      .withColumn("__bfd_sz", size.cast("long"))
    val sorted = keyed.repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("__bfd_sz").desc, order.asc)
    ParseStage(sorted, struct(col("shard"), col("__bfd_sz")),
      BfdPacker(budget, keyed.schema("shard").dataType))
      .drop("__bfd_sz")
  }

  /** [[packByBudgetBfd]]'s per-row step over `struct(shard, size)` rows
    * that arrive sorted by (shard, size desc, order): each doc's
    * (pack_id, pack_pos). The state is per task and resets when the shard
    * changes. */
  private final case class BfdPacker(budget: Long, shardType: DataType)
      extends RowParser[InternalRow] {
    def label: String = s"bfd_pack($budget)"
    def fields: Seq[StructField] =
      Seq(StructField("pack_id", LongType), StructField("pack_pos", IntegerType))
    override def deterministic: Boolean = false
    // open packs as an ordered multiset keyed (remaining, packId) —
    // iteratorFrom((sz, MinValue)) IS best-fit with the lowest-id
    // tie-break; counts(pid) = insertions so far
    @transient private lazy val open = mutable.TreeMap.empty[(Long, Long), Unit]
    @transient private lazy val counts = mutable.ArrayBuffer.empty[Int]
    @transient private var shard: Any = _
    @transient private var started = false

    def parse(in: InternalRow): InternalRow = {
      val sh = in.get(0, shardType)
      if (!started || sh != shard) {
        open.clear(); counts.clear(); shard = InternalRow.copyValue(sh); started = true
      }
      val sz = if (in.isNullAt(1)) 0L else in.getLong(1)
      val fit = open.iteratorFrom((sz, Long.MinValue))
      if (fit.hasNext) {
        val (rem, pid) = fit.next()._1
        open.remove((rem, pid))
        open.put((rem - sz, pid), ())
        counts(pid.toInt) += 1
        InternalRow(pid, counts(pid.toInt))
      } else {
        val pid = counts.length.toLong
        counts += 1
        open.put((budget - sz, pid), ())
        InternalRow(pid, 1)
      }
    }
  }

  /** Pack ASSEMBLY — turn pack assignments ([[packByBudget]] /
    * [[packByBudgetBfd]] output) into one row per training sequence: the
    * member doc ids in pack order plus the token BOUNDARY offsets
    * (`[0, l₁, l₁+l₂, …, total]` — the cross-document attention-mask /
    * position-reset offsets a packed-sequence dataloader needs; boundary
    * array length = n_docs + 1, last element = total_tokens) and the
    * pack's budget utilization.
    *
    * Scale shape: one hash aggregate keyed (shard, pack_id) — a pack is
    * budget-bounded by construction, so every collect_list is a few dozen
    * structs and the per-group running sum (an `aggregate` HOF over the
    * sorted members; interpreted, but post-shuffle over tiny arrays) is
    * O(pack). No window, no second shuffle.
    */
  def assemblePacks(
      packed: DataFrame, shard: Column, packId: Column, packPos: Column,
      id: Column, size: Column, budget: Long): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    val m = col("__m")
    packed
      .groupBy(shard.as("shard"), packId.as("pack_id"))
      .agg(sort_array(collect_list(struct(
        packPos.as("pos"), id.as("id"), size.cast("long").as("sz")))).as("__m"))
      .select(col("shard"), col("pack_id"),
        org.apache.spark.sql.functions.size(m).cast("int").as("n_docs"),
        transform(m, x => x("id")).as("doc_ids"),
        aggregate(m, array(lit(0L)),
          (acc, x) => concat(acc, array(element_at(acc, -1) + x("sz"))))
          .as("boundaries"),
        aggregate(m, lit(0L), (a, x) => a + x("sz")).as("total_tokens"))
      .withColumn("utilization", col("total_tokens").cast("double") / budget)
  }

  /** Temperature-flattened source mixing (the mT5 / Pile recipe, Xue et
    * al. 2021 §3.1): given per-source natural shares p_s = n_s/N, the
    * target mixture is q_s ∝ p_s^(1/τ) — τ>1 flattens the distribution,
    * up-weighting rare sources. Realized by SUBSAMPLING only (no
    * duplication): per-source keep rate r_s = min(1, τ-adjusted target
    * count / n_s), decided per row by the md5 threshold (deterministic,
    * scan-stage, engine-portable — same contract as [[sample]]).
    *
    * The per-source counts are collected to the driver — `source` must be
    * a bounded enum (language, domain bucket, crawl id: thousands at
    * most), which is what a mixture IS; the result is a literal CASE over
    * the source column, a pure scan filter at any corpus size.
    *
    * Output: input + (mix_rate double, mix_keep boolean). Keep-all rates
    * (r ≥ 1) genuinely keep all rows (see [[thresholdHex]]).
    */
  def temperatureMixture(
      df: DataFrame, key: Column, source: Column,
      temperature: Double, targetFraction: Double): DataFrame = {
    require(temperature > 0.0, s"temperature must be > 0, got $temperature")
    require(targetFraction > 0.0 && targetFraction <= 1.0,
      s"targetFraction must be in (0,1], got $targetFraction")
    val src = source.cast("string")
    val counts = df.groupBy(src.as("__src")).agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getString(0) -> r.getLong(1).toDouble)
      .sortBy(_._1) // deterministic summation order for the double Σw
    val n = counts.map(_._2).sum // integer-valued doubles: exact in any order
    val ws = counts.map { case (s, c) => s -> math.pow(c / n, 1.0 / temperature) }
    val wSum = ws.map(_._2).sum
    // rates are rounded to 6 significant figures ([[roundSig6d]]): r_s
    // comes from pow/sum doubles the two engines compute independently,
    // and floor(r·2^32) at a ulp boundary would flip mix_keep — a boolean
    // no output rounding can absorb. After this both engines floor the
    // IDENTICAL double.
    val rates = ws.zip(counts).map { case ((s, w), (_, c)) =>
      s -> roundSig6d(math.min(1.0, targetFraction * n * (w / wSum) / c))
    }.toMap
    // map LITERALS, not a per-source when-chain: a mixture over thousands
    // of sources (domains, crawls) would otherwise build a thousands-deep
    // CASE expression; element_at on a literal map is one hash lookup
    val rate = element_at(typedlit(rates), src)
    val threshold = element_at(
      typedlit(rates.map { case (s, r) => s -> thresholdHex(r) }), src)
    df.withColumn("mix_rate", rate)
      .withColumn("mix_keep",
        substring(md5(concat(lit("mix:"), key.cast("string"))), 1, 8) < threshold)
  }

  /** Token-budget EPOCH planner — the mixture recipe stated in tokens, not
    * documents (how the published pretraining mixes are actually specified:
    * per-source token budgets with small sources repeated for several
    * epochs — LLaMA, Touvron et al. 2023 Table 1 lists per-source epochs up
    * to 3.03; the diminishing-returns cap follows the data-constrained
    * scaling result that ~4 epochs of a source are nearly as good as fresh
    * data and more decays fast, Muennighoff et al. 2023).
    *
    * Given per-source token totals `tokens`, target mixture weights
    * `weights`, and a total token `budget`: e_s = budget·ŵ_s / tokens_s,
    * with ŵ the weights renormalized over participating sources. Sources
    * that would exceed `maxEpochs` are FIXED at the cap and their unused
    * budget water-fills the rest (iterative, ≤ |sources| rounds,
    * deterministic sorted iteration). Sources with zero weight or zero
    * tokens get 0 epochs. Returned epochs are [[roundSig6d]]-rounded —
    * they gate per-row keep booleans in [[upsampleEpochs]], so both
    * engines must floor the identical double.
    *
    * Driver-side arithmetic over a bounded source enum (the same contract
    * as [[temperatureMixture]]): the corpus is never touched — pass
    * `tokens` from one count aggregate.
    */
  def epochPlan(
      tokens: Map[String, Long], weights: Map[String, Double],
      budget: Long, maxEpochs: Double = 4.0): Map[String, Double] = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    require(maxEpochs > 0.0, s"maxEpochs must be > 0, got $maxEpochs")
    require(weights.values.forall(w => w >= 0.0 && !w.isNaN),
      s"weights must be finite and >= 0")
    val out = scala.collection.mutable.Map.empty[String, Double]
    var active = tokens.keys.toSeq.sorted
      .filter(k => weights.getOrElse(k, 0.0) > 0.0 && tokens(k) > 0L)
    tokens.keys.filterNot(active.contains).foreach(k => out(k) = 0.0)
    var rem = budget.toDouble
    var stable = false
    while (!stable && active.nonEmpty) {
      val wSum = active.iterator.map(weights).sum
      val e = active.map(k => k -> rem * (weights(k) / wSum) / tokens(k).toDouble)
      val capped = e.filter(_._2 > maxEpochs)
      if (capped.isEmpty) {
        e.foreach { case (k, v) => out(k) = roundSig6d(v) }
        stable = true
      } else {
        capped.foreach { case (k, _) =>
          out(k) = roundSig6d(maxEpochs)
          rem = math.max(0.0, rem - maxEpochs * tokens(k).toDouble)
        }
        active = active.filterNot(k => capped.exists(_._1 == k))
      }
    }
    out.toMap
  }

  /** Deterministic fractional UP-sampling to per-source epochs — the other
    * half of mixture realization next to [[temperatureMixture]]'s
    * subsample-only rates: every document emits floor(e_s) full copies
    * plus one more iff the md5 of (key, copy index) clears the fractional
    * part (same fixed-width-hex threshold contract as [[sample]] — stage
    * retries, resumed jobs and the oracle reproduce identical copies).
    * `copy_idx` distinguishes replicas; downstream,
    * [[graft.corpus.Export.shardAssignment]]'s independent md5 draw keyed
    * on (key, copy_idx) scatters them across shards so repeated epochs
    * never ride adjacent in training order.
    *
    * Scale shape: the epochs map rides the plan as a literal
    * (`element_at`, one hash lookup — thousands of sources stay one map),
    * and the whole operator is a scan-stage explode of at most
    * ceil(e_s) rows per input row — zero shuffles at any corpus size.
    * Sources absent from `epochs` produce NO rows (null lookup → null
    * sequence → explode drops the row), mirroring a mixture that excludes
    * a source. Epoch values are [[roundSig6d]]-rounded on entry (the
    * boolean-gate rule).
    *
    * Output: input columns + (copy_idx int, n_epochs double).
    */
  def upsampleEpochs(
      df: DataFrame, key: Column, source: Column,
      epochs: Map[String, Double]): DataFrame = {
    require(epochs.nonEmpty, "epochs map must not be empty")
    require(epochs.values.forall(e => e >= 0.0 && !e.isNaN && !e.isInfinite),
      "epochs must be finite and >= 0")
    val rounded = epochs.map { case (s, e) => s -> roundSig6d(e) }
    val fracThr = rounded.map { case (s, e) =>
      s -> thresholdHex(e - math.floor(e))
    }
    val src = source.cast("string")
    df.withColumn("__e", element_at(typedlit(rounded), src))
      .withColumn("copy_idx",
        explode(sequence(lit(0),
          greatest(lit(0), ceil(col("__e")).cast("int") - 1))))
      .filter(col("copy_idx") < floor(col("__e")).cast("int") ||
        substring(md5(concat(lit("epoch:"), key.cast("string"),
          lit(":"), col("copy_idx").cast("string"))), 1, 8) <
          element_at(typedlit(fracThr), src))
      .withColumn("n_epochs", col("__e"))
      .drop("__e")
  }

  /** Corpus vocabulary: the `k` most frequent whitespace tokens with
    * deterministic ties (count desc, token asc). One explode + one
    * map-side-combinable hash aggregate + a k-row ordered take — the
    * standard word-count shape that survives any corpus size.
    */
  def vocabulary(df: DataFrame, text: Column, k: Int): DataFrame =
    df.select(explode(split(text, " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token").asc)
      .limit(k)

  /** DoReMi-shaped domain-weight update (Xie et al. 2023,
    * arXiv:2305.10429, Algorithm 1 — one exponentiated-gradient step of
    * the Group-DRO inner loop): given a per-document EXCESS-LOSS signal
    * (proxy-model loss minus reference-model loss, or any
    * headroom-per-doc score), each domain's mean excess clipped at zero
    * is its gradient λ_s, the prior weights move multiplicatively
    * w'_s ∝ w_s·exp(η·λ_s), and the normalized result is smoothed with
    * uniform mass (1−c)·ŵ_s + c/k — the paper's update verbatim. Run it
    * once per proxy-training round; the fixed point concentrates weight
    * on domains the model still finds hard.
    *
    * Same scale contract as [[temperatureMixture]]: ONE combinable
    * per-domain aggregate over the corpus (count + mean — the excess
    * column itself may come from the broadcast-scored perplexity stage,
    * which never shuffles the corpus), then driver arithmetic over the
    * bounded domain enum. Mean excesses are cross-row double sums — the
    * engines associate them differently, so outputs carry the usual
    * 6-sig-fig parity contract and nothing here gates a boolean.
    *
    * @param prior per-domain starting weights; domains absent from the
    *              map start uniform at 1/k
    * @return (source, n_docs, mean_excess, weight) — weights sum to 1
    */
  def doremiStep(
      df: DataFrame, source: Column, excess: Column,
      eta: Double = 1.0, smoothing: Double = 0.01,
      prior: Map[String, Double] = Map.empty): DataFrame = {
    require(eta > 0.0, s"eta must be > 0, got $eta")
    require(smoothing >= 0.0 && smoothing < 1.0,
      s"smoothing must be in [0,1), got $smoothing")
    val spark = df.sparkSession
    val stats = df.groupBy(source.cast("string").as("__src"))
      .agg(count(lit(1)).as("__n"), avg(excess.cast("double")).as("__m"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1) // deterministic summation order for the driver Σ
    val k = stats.length
    require(k > 0, "doremiStep over an empty corpus")
    val unnorm = stats.map { case (s, _, m) =>
      s -> prior.getOrElse(s, 1.0 / k) * math.exp(eta * math.max(0.0, m))
    }
    val z = unnorm.map(_._2).sum
    val weight = unnorm.map { case (s, w) =>
      s -> ((1.0 - smoothing) * w / z + smoothing / k)
    }.toMap
    import spark.implicits._
    stats.toSeq.map { case (s, n, m) => (s, n, m, weight(s)) }
      .toDF("source", "n_docs", "mean_excess", "weight")
  }
}
