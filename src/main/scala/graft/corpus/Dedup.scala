package graft.corpus

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines, over a
  * corpus table `(doc_id, text, ...)`.
  *
  * Scale design (100 TB): nothing here compares all pairs. Exact dedup is
  * one hash aggregate; MinHash-LSH confines candidate generation to
  * band-bucket collisions (explode → hash-shuffle on bucket → within-bucket
  * join); n-gram Jaccard uses a posting-list join on shared shingles so the
  * shuffle is bounded by the posting lists, not n². All hashes are md5 of
  * seeded strings — engine-portable and deterministic (no Murmur3 seeds that
  * differ between engines).
  */
object Dedup {
  import Candidates._

  /** Words → word k-shingles (space-joined), distinct. Empty when the doc
    * has fewer than k words. One tight per-row pass
    * ([[graft.functions.WordShingles]]) — the composed-builtins form
    * (transform over sequence with k element_ats) is an interpreted HOF
    * tree that re-evaluates split() per element and measured ~2 ms per
    * shingle at k = 8.
    */
  def shingles(text: Column, k: Int): Column =
    graft.functions.GraftFunctions.word_shingles(text, k)

  /** The ONE normalization + hash defining "identical content" — shared
    * by exact() and dedupCorpus so the two entry points can never diverge.
    */
  def contentHash(text: Column): Column = sha2(lower(trim(text)), 256)

  /** Exact dedup: hash-groupBy on a normalization of the text. Emits one row
    * per distinct content with the surviving (minimum) doc_id and the
    * duplicate count — one map-side-combinable aggregate, the canonical
    * first pass of any corpus pipeline.
    */
  def exact(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs
      .groupBy(contentHash(text).as("content_hash"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Per-shingle hash pair: ONE md5 per shingle, split into a 60-bit and a
    * 52-bit half. The j-th MinHash is min over shingles of
    * `(h1 + j*h2) mod p` — the standard affine 2-hash family. The mod is
    * essential: without it g_j is monotone in j and one shingle's (h1,h2)
    * dominates every minimum, collapsing the 16 signatures to ~2 effective
    * hashes. j*h2 < 2^56, so the pre-mod sum never overflows a long.
    *
    * All numHashes minima come from ONE pass over the shingle array
    * ([[graft.functions.MinhashSig]]) — the composed-builtins formulation
    * (numHashes × `array_min(transform(…))`) re-traverses the array per
    * hash with per-element boxing and computes every shingle's md5 twice.
    */
  private val MinhashPrime = 1000000007L // small enough that the sum wraps

  /** (doc_id, band, bucket) MinHash band table. Band hash = md5 over the
    * band's signature slice. Only these id-sized rows ever shuffle — never
    * the shingle arrays: at corpus scale the payload dominates, so
    * candidates are generated over ids and the shingle sets join back ONLY
    * for surviving candidate pairs.
    */
  private def bandTable(sh: DataFrame, numHashes: Int, rowsPerBand: Int): DataFrame = {
    val sig = sh.select(col("doc_id"),
      graft.functions.GraftFunctions.minhash_sig(col("sh"), numHashes, MinhashPrime).as("sigs"))
    bandRows(sig, numHashes / rowsPerBand)(b =>
      md5(concat_ws("|", (0 until rowsPerBand).map(r =>
        element_at(col("sigs"), b * rowsPerBand + r + 1).cast("string")): _*)))
  }

  /** Verified MinHash pairs over a shingle table and its band table:
    * candidates deduplicate before the (payload-joining) Jaccard verify. */
  private def lshPairs(sh: DataFrame, bands: DataFrame, threshold: Double): DataFrame =
    verifyJaccard(bandPairs(bands, bands).dropDuplicates("doc_a", "doc_b"), sh, sh, threshold)

  /** Plan (numHashes, rowsPerBand) for [[minhashLsh]] from the target
    * similarity threshold and a recall floor AT that threshold: the LSH
    * s-curve gives P(candidate | jaccard = j) = 1 − (1 − j^r)^b with
    * b = numHashes / r bands of r rows. Among all (r, b) with
    * r·b ≤ maxHashes satisfying the recall floor, picks the LARGEST r
    * (steepest s-curve → fewest spurious sub-threshold candidates, i.e.
    * the cheapest verification join) and the smallest b that still
    * clears the floor at that r. Pure driver arithmetic — call it once
    * and pass the result through; the signature mirrors the Leskovec/
    * Rajaraman/Ullman construction every engine documents.
    */
  def planLsh(threshold: Double, recallAtThreshold: Double = 0.95,
      maxHashes: Int = 256): (Int, Int) = {
    require(threshold > 0.0 && threshold < 1.0, s"threshold in (0,1): $threshold")
    require(recallAtThreshold > 0.0 && recallAtThreshold < 1.0,
      s"recall in (0,1): $recallAtThreshold")
    def recall(r: Int, b: Int): Double =
      1.0 - math.pow(1.0 - math.pow(threshold, r), b)
    val plans = for {
      r <- (maxHashes to 1 by -1).view
      bMin = (1 to maxHashes / r).find(b => recall(r, b) >= recallAtThreshold)
      b <- bMin
    } yield (r * b, r)
    plans.headOption.getOrElse(throw new IllegalArgumentException(
      s"no (rows, bands) within $maxHashes hashes reaches " +
        s"recall $recallAtThreshold at jaccard $threshold — raise maxHashes"))
  }

  /** MinHash + LSH banding near-duplicate pairs.
    *
    * numHashes signatures in bands of rowsPerBand; docs sharing any band
    * bucket become candidates; candidates are verified with exact Jaccard ≥
    * threshold (LSH is candidate generation only — semantics are the
    * Jaccard threshold, LSH is the scale path that avoids the n² compare).
    *
    * Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.
    */
  def minhashLsh(
      docs: DataFrame,
      id: Column,
      text: Column,
      shingleK: Int = 3,
      numHashes: Int = 16,
      rowsPerBand: Int = 2,
      threshold: Double = 0.5): DataFrame = {
    val sh = shingleTable(docs, id, text, shingleK)
    lshPairs(sh, bandTable(sh, numHashes, rowsPerBand), threshold)
  }

  /** Join candidate id-pairs back to their shingle sets (`left` for doc_a,
    * `right` for doc_b) and keep pairs with exact Jaccard ≥ threshold. */
  private def verifyJaccard(cand: DataFrame, left: DataFrame, right: DataFrame,
      threshold: Double): DataFrame =
    verifyJoin(cand, left, right)
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")

  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** Exact n-gram Jaccard pairs with PPJoin-style prefix filtering
    * ([[Candidates.prefixPostings]]): the posting join emits a lossless
    * superset of the qualifying pairs at a fraction of the shuffle;
    * candidates then verify with the exact Jaccard. Candidate generation
    * shuffles (shingle, id) only — never the shingle arrays.
    *
    * PAIR contract caveat: like every pair API, the output itself is
    * quadratic in an exact-duplicate group's size (identical sets share
    * every posting). For clustering, collapse exact duplicates first and
    * use [[corpusEdges]]-style star edges.
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      id: Column,
      text: Column,
      shingleK: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val sh = shingleTable(docs, id, text, shingleK)
    val posting = prefixPostings(sh, threshold)
    val cand = posting.as("a")
      .join(posting.as("b"), col("a.shingle") === col("b.shingle"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    verifyJaccard(cand, sh, sh, threshold)
  }

  /** Cross-source SUBTRACTION dedup — remove from `docs` everything that
    * already exists in a REFERENCE corpus, exactly or nearly: subtract the
    * curated source from the crawl so the mixture cannot double-count it,
    * subtract a withdrawn/licensed collection from an open one, subtract
    * last release's corpus from a new crawl. Per-document verdict flags:
    *  - `sub_exact`: [[contentHash]] membership in the reference
    *  - `sub_near`: word-shingle Jaccard ≥ `threshold` against ANY
    *    reference document (exact PPJoin prefix-filter candidates +
    *    exact verify — recall 1 at the threshold, no LSH flake; an exact
    *    match is Jaccard 1, so `sub_near` ⊇ `sub_exact` for shingled docs)
    *  - `kept`: neither
    *
    * Viral-safe by construction (the corpusEdges discipline): BOTH sides
    * collapse to one representative per distinct content (deterministic
    * `min(text)`) before shingling, so a 10⁸-copy page on either side is
    * ONE row in the candidate join; verdicts propagate back to documents
    * through a content-hash-keyed join — linear in each corpus.
    *
    * Scale shape: one hash semi-join on content hash (exact), prefix
    * postings of (shingle-md5, content-hash) for candidates, per-candidate
    * verify over representative shingle sets, two content-keyed flag
    * joins. Texts never shuffle beyond the representative collapse.
    */
  def subtract(
      docs: DataFrame, id: Column, text: Column,
      ref: DataFrame, refText: Column,
      shingleK: Int = 3, threshold: Double = 0.5): DataFrame = {
    val base = docs.withColumn("__ch", contentHash(text))
    val refH = ref.select(contentHash(refText).as("__ch")).distinct()
    // representatives: one deterministic text per distinct content
    val repD = base.select(col("__ch"), text.as("__t"))
      .groupBy("__ch").agg(min(col("__t")).as("__t"))
    val repR = ref.select(contentHash(refText).as("__ch"), refText.as("__t"))
      .groupBy("__ch").agg(min(col("__t")).as("__t"))
    def shTable(rep: DataFrame) = shingleTable(rep, col("__ch"), col("__t"), shingleK)
    val shD = shTable(repD)
    val shR = shTable(repR)
    val cand = prefixPostings(shD, threshold).select(col("doc_id").as("doc_a"), col("shingle"))
      .join(prefixPostings(shR, threshold).select(col("doc_id").as("doc_b"), col("shingle")),
        Seq("shingle"))
      .select("doc_a", "doc_b").dropDuplicates("doc_a", "doc_b")
    // verify against each SIDE's own shingle table (a content present in
    // both corpora keys the same hash but may normalize-differ in case —
    // the sides must not share representatives)
    val nearCh = verifyJaccard(cand, shD, shR, threshold)
      .select(col("doc_a").as("__nch")).distinct()
    base
      .join(refH.withColumn("__ex", lit(true)), Seq("__ch"), "left")
      .join(nearCh.withColumn("__nr", lit(true)),
        col("__ch") === col("__nch"), "left")
      .withColumns(Map(
        "sub_exact" -> coalesce(col("__ex"), lit(false)),
        "sub_near" -> coalesce(col("__nr"), lit(false)),
        "kept" -> !(coalesce(col("__ex"), lit(false)) ||
          coalesce(col("__nr"), lit(false)))))
      .drop("__ch", "__ex", "__nch", "__nr")
  }

  /** Directed containment pairs — C(a→b) = |A∩B| / |A| over word
    * k-shingle sets: the ASYMMETRIC overlap Jaccard misses (a short quote
    * page fully contained in a long aggregator scores J ≈ |A|/|B| ≈ 0 but
    * containment 1.0). The sub-document duplication check quote/mirror
    * detection runs. Output one row per direction: (doc_a, doc_b,
    * containment) with doc_a the CONTAINED side, containment ≥ threshold.
    *
    * `containment` is a single division of two exact integers (shared
    * shingle count / |A|), so the threshold gate compares bit-identical
    * doubles in any engine — no rounding needed (the datasheet rule).
    *
    * Scale shape: only (shingle_md5, id) postings shuffle; candidate
    * aggregation is one combinable count keyed (doc_a, doc_b). Same
    * pair-API caveat as [[ngramJaccardPairs]]: an exact-duplicate group
    * yields quadratic pairs by definition — collapse identical content to
    * representatives first ([[corpusEdges]] shape) when groups can go
    * viral. */
  def containmentPairs(
      docs: DataFrame, id: Column, text: Column,
      shingleK: Int = 3, threshold: Double = 0.8): DataFrame = {
    val sh = shingleTable(docs, id, text, shingleK)
    val sizes = sh.select(col("doc_id").as("doc_a"),
      size(col("sh")).cast("long").as("n_a"))
    val posts = postings(sh)
    posts.as("a")
      .join(posts.as("b"),
        col("a.gh") === col("b.gh") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .join(sizes, Seq("doc_a"))
      .withColumn("containment",
        col("shared").cast("double") / col("n_a").cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("containment"))
  }

  /** Resolve near-dup pairs into clusters and pick survivors: connected
    * components by iterative min-label propagation — pure joins +
    * aggregations, no driver collect of vertices (the driver sees one
    * convergence counter per round). Rounds needed = component diameter;
    * dup clusters are small and dense, so this converges in a handful of
    * rounds; `maxIter` bounds pathological chains.
    *
    * `universe` (one `member_id` column) supplies singleton docs — every
    * member appears in the output, labeled by the minimum id reachable
    * through the pair graph (itself when it has no duplicates). Output:
    * (member_id, cluster_id, keep_id) with keep_id = cluster_id = min id —
    * the canonical "keep the smallest id per duplicate cluster" policy.
    */
  def resolveClusters(
      universe: DataFrame, pairs: DataFrame,
      aCol: String, bCol: String, maxIter: Int = 20): DataFrame = {
    // localCheckpoint after every round: iterative plans otherwise DOUBLE
    // per iteration (each round references the previous frame 3×) and the
    // optimizer, not the data, becomes the bottleneck. On a real cluster
    // prefer reliable checkpoint() (executor loss safety); the shape is
    // identical.
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
      .localCheckpoint()
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("lab"))
      .localCheckpoint()
    var it = 0
    var converged = edges.isEmpty
    while (!converged && it < maxIter) {
      // hop: take the min label over graph neighbors
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(min(col("lab")).as("nlab"))
      // carry the previous label as `old` so convergence is a scan of the
      // checkpointed round output, not another join against the old frame
      val hopped = labels.select(col("id"), col("lab").as("old"))
        .join(viaNeighbors, Seq("id"), "left")
        .select(col("id"), col("old"),
          least(col("old"), coalesce(col("nlab"), col("old"))).as("lab"))
      // pointer jump: lab := label(lab) — halves chain lengths, so rounds
      // are O(log diameter) instead of O(diameter)
      val next = hopped
        .join(hopped.select(col("id").as("lab"), col("lab").as("lab2")), Seq("lab"), "left")
        .select(col("id"), col("old"),
          least(col("lab"), coalesce(col("lab2"), col("lab"))).as("lab"))
        .localCheckpoint()
      val changed = next.filter(col("lab") =!= col("old")).count()
      labels = next.select(col("id"), col("lab"))
      it += 1
      converged = changed == 0
    }
    universe.select(col("member_id"))
      .join(labels.withColumnRenamed("id", "member_id"), Seq("member_id"), "left")
      .select(col("member_id"),
        coalesce(col("lab"), col("member_id")).as("cluster_id"),
        coalesce(col("lab"), col("member_id")).as("keep_id"))
  }

  /** Quality-priority duplicate resolution: per cluster keep the HIGHEST-
    * scoring member (ties → minimum id) instead of [[resolveClusters]]'s
    * minimum-id policy — the keeper rule real curation pipelines use once a
    * quality signal exists (longest text, best Gopher/perplexity score,
    * most trusted source): deduplication should discard the duplicates, not
    * potentially the best copy.
    *
    * `members` is any (cluster, id, score) assignment — compose with
    * [[resolveClusters]] output joined to a per-doc score (word count,
    * [[TextStats.gopherQuality]] fields, a source-priority rank). Numeric
    * score required; the keeper is one map-side-combinable
    * `min(struct(-score, id))` aggregate — no window, no sort, no second
    * shuffle, so a 10⁸-member viral cluster is one hash group like any
    * other. Returns (cluster_id, keep_id, keep_score, n_members).
    */
  def keepBest(
      members: DataFrame, cluster: Column, id: Column, score: Column): DataFrame =
    members
      .select(cluster.as("cluster_id"), id.as("__id"), score.as("__s"))
      .groupBy("cluster_id")
      .agg(min(struct((-col("__s")).as("ns"), col("__id").as("id"))).as("__b"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_id"), col("__b.id").as("keep_id"),
        (-col("__b.ns")).as("keep_score"), col("n_members"))

  /** Cluster-size histogram over resolved clusters — the dedup section of
    * a corpus release report (how much of the crawl is singletons vs
    * small families vs viral mega-groups). Power-of-two buckets keyed by
    * `bucket_lo` (1, 2, 4, …, 2^maxBucketLog2 = the open-ended top),
    * chosen by INTEGER comparisons so both engines bucket identically
    * (never floor(log2(n)) — a double ulp at a boundary flips the
    * bucket). Two combinable aggregates: a 10⁸-member viral cluster is
    * one size row, then one histogram row.
    */
  def clusterStats(clusters: DataFrame, maxBucketLog2: Int = 10): DataFrame = {
    val sizes = clusters.groupBy(col("cluster_id")).agg(count(lit(1)).as("n"))
    val bucketLo = (1 to maxBucketLog2).foldLeft(lit(1L): Column) {
      case (acc, b) => when(col("n") >= (1L << b), lit(1L << b)).otherwise(acc)
    }
    sizes.withColumn("bucket_lo", bucketLo)
      .groupBy(col("bucket_lo"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("n")).as("n_docs"))
  }

  /** The viral-duplicate-safe edge set for near-dup clustering: content
    * star edges ∪ LSH pairs among the distinct-content representatives (min
    * doc_id per content hash) — feed to [[resolveClusters]]. Same components
    * as banding every doc, without the quadratic band join on
    * exact-duplicate groups: any member-member band collision is
    * signature-determined, so it exists iff the rep-rep collision does, and
    * the star edges carry the members ([[Candidates.repDocs]]).
    */
  def corpusEdges(
      docs: DataFrame, id: Column, text: Column,
      shingleK: Int = 3, threshold: Double = 0.5): DataFrame = {
    val content = docs.select(id.as("doc_id"), contentHash(text).as("h"))
    exactEdges(content).unionByName(
      minhashLsh(repDocs(docs, id, content), id, text, shingleK, threshold = threshold)
        .select(col("doc_a"), col("doc_b")))
  }

  /** SOFT deduplication — keep every document but attach a training
    * sampling weight that down-weights duplicate clusters:
    * `weight = n_members^(−beta)` over the same near-dup clusters
    * [[dedupCorpus]] resolves (the reweight-instead-of-remove recipe:
    * SoftDedup, He et al. 2024, arXiv:2407.04203 — down-weighting high-
    * commonness data beats dropping it when the duplicates carry
    * variation). `beta = 1` makes each cluster contribute one
    * document-equivalent of total training mass regardless of its size;
    * `beta = 0` degenerates to plain counting. Unlike [[dedupCorpus]]
    * nothing is dropped — but a 10⁸-copy viral page no longer dominates
    * the loss (its members each weigh 10⁻⁸·ᵝ).
    *
    * Scale shape: the viral-safe edge set ([[corpusEdges]]) →
    * [[resolveClusters]] → ONE combinable count per cluster → two id-keyed
    * hash joins (cluster sizes back to members, members back to docs).
    * The weight itself is a single pow of an exact integer — engine
    * parity's 6-sig-fig rounding absorbs libm differences (it gates no
    * boolean).
    *
    * Output: input columns + (cluster_id, n_members, weight).
    */
  def softDedup(
      docs: DataFrame, id: Column, text: Column, beta: Double = 1.0,
      shingleK: Int = 3, threshold: Double = 0.5): DataFrame = {
    require(beta >= 0.0, s"beta must be >= 0, got $beta")
    val clusters = resolveClusters(
      docs.select(id.as("member_id")),
      corpusEdges(docs, id, text, shingleK, threshold), "doc_a", "doc_b")
    val sizes = clusters.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"))
    val weights = clusters.join(sizes, Seq("cluster_id"))
      .select(col("member_id"), col("cluster_id"), col("n_members"),
        pow(col("n_members").cast("double"), lit(-beta)).as("weight"))
    docs.withColumn("__sd_id", id)
      .join(weights, col("__sd_id") === col("member_id"))
      .drop("__sd_id", "member_id")
  }

  /** The canonical corpus dedup pass, composed end-to-end: exact duplicate
    * pairs (same normalized content) ∪ MinHash-LSH near-dup pairs →
    * connected components → keep only each cluster's minimum-id survivor.
    * Returns the surviving rows of `docs`, unchanged schema — the "drop
    * the duplicates" operation a training-data pipeline actually runs.
    *
    * Scale shape: one content-hash aggregate (exact pairs come from the
    * hash groups, never a text self-join), the id-only LSH band shuffle,
    * O(log diameter) component rounds, and one final semi-join of
    * survivors back to the corpus.
    */
  def dedupCorpus(
      docs: DataFrame, id: Column, text: Column,
      shingleK: Int = 3, threshold: Double = 0.5): DataFrame = {
    // the edge set is viral-duplicate-safe end to end: content star edges
    // keeper-JOIN (never collect_set or a window-min — a 10^8-copy group
    // must neither materialize its id set into one row nor land on one
    // task) and the LSH bands only distinct-content representatives
    // (corpusEdges). NULL-text docs never join (NULL keys drop) and so are
    // never deduplicated — same as SQL-engine null-join semantics.
    val clusters = resolveClusters(
      docs.select(id.as("member_id")),
      corpusEdges(docs, id, text, shingleK, threshold), "doc_a", "doc_b")
    docs.join(
      clusters.filter(col("member_id") === col("keep_id"))
        .select(col("member_id").as("__keep")),
      id === col("__keep"), "left_semi")
  }

  /** SimHash signature per document: one bit per md5 nibble-MSB of each
    * token, majority-voted over all tokens (bit = 1 when the +1/−1 vote sum
    * is ≥ 0). `bits` ≤ 32 uses the first `bits` hex nibbles of md5(token);
    * 32 < `bits` ≤ 64 appends the nibbles of a second, salted md5 so wider
    * signatures (needed for scale-safe banding, see [[simhashPairs]]) stay
    * engine-portable (md5-only — repo hashing rule).
    * Near-dup search then bands the signature and compares Hamming distance
    * within buckets — same LSH shape as MinHash.
    *
    * Implementation is explode + one hash aggregate with `bits` sums —
    * map-side combinable, single shuffle on doc_id.
    */
  def simhash(docs: DataFrame, id: Column, text: Column, bits: Int = 16): DataFrame = {
    require(bits >= 1 && bits <= 64, "simhash supports 1..64 bits (two md5s)")
    val toks0 = docs.select(id.as("doc_id"), explode(split(text, " ")).as("tok"))
    val toks =
      if (bits <= 32) toks0.withColumn("h", md5(col("tok")))
      else toks0.withColumn("h", concat(md5(col("tok")), md5(concat(col("tok"), lit("#1")))))
    val votes = (0 until bits).map { i =>
      // nibble MSB: hex digit ∈ [8,f] votes +1, else −1
      sum(when(substring(col("h"), i + 1, 1).isin("8", "9", "a", "b", "c", "d", "e", "f"), 1)
        .otherwise(-1)).as(s"v$i")
    }
    toks.groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        concat((0 until bits).map(i =>
          when(col(s"v$i") >= 0, lit("1")).otherwise(lit("0"))): _*).as("simhash"))
  }

  /** Hamming distance between two equal-length bit strings: the popcount
    * of the XOR of each 32-bit chunk, read as a number with `conv`. */
  def hamming(a: Column, b: Column, bits: Int): Column = {
    def chunk(s: Column, pos: Int): Column =
      conv(substring(s, pos + 1, math.min(32, bits - pos)), 2, 10).cast("bigint")
    (0 until bits by 32)
      .map(pos => bit_count(chunk(a, pos) bitwiseXOR chunk(b, pos)))
      .reduce((x, y) => x + y)
  }

  /** SimHash near-dup pairs: band the signature into `bands` substrings;
    * docs sharing any band substring are candidates; keep pairs with
    * Hamming distance ≤ maxHamming. (A pair within distance d must agree
    * exactly on at least one band when bands > d — pigeonhole recall.)
    *
    * '''Sizing for scale.''' Each band has 2^(bits/bands) buckets and the
    * candidate join is quadratic in bucket population: expected candidate
    * pairs ≈ bands · n² / 2^(bits/bands + 1) for n near-uniform docs. Keep
    * bandLen = bits/bands ≥ log2(n) so the expected bucket holds ~1 doc —
    * e.g. n = 10⁹ needs bandLen ≥ 30 (bits = 128, bands = 4), n = 10⁷ is
    * fine at the 64/4 default (bandLen 16 → ~150 docs/bucket → ~10⁴ pair
    * comparisons per bucket). The old 32/4 default (8-bit buckets) explodes
    * past n ≈ 10⁵ and is kept only for pinned oracle queries. maxHamming
    * constrains bands from below (pigeonhole needs bands > maxHamming), so
    * widening buckets means widening `bits`, not shrinking `bands`.
    *
    * PAIR contract caveat: identical texts carry identical signatures, so
    * an exact-duplicate group's pair output (and its bucket join) is
    * quadratic in the group size. For clustering, collapse exact
    * duplicates to representatives first ([[corpusEdges]] pattern).
    */
  def simhashPairs(
      docs: DataFrame,
      id: Column,
      text: Column,
      bits: Int = 64,
      bands: Int = 4,
      maxHamming: Int = 3): DataFrame = {
    require(bands > maxHamming, "pigeonhole recall needs bands > maxHamming")
    val sig = simhash(docs, id, text, bits)
    val bandLen = bits / bands
    // id-only banding: candidates shuffle (doc_id, band, bucket);
    // signatures join back for the Hamming check. Wider bands (bandLen
    // bits → 2^bandLen buckets) keep bucket populations — and so the
    // candidate join — small.
    val banded = bandRows(sig, bands)(b => substring(col("simhash"), b * bandLen + 1, bandLen))
    verifyJoin(bandPairs(banded, banded).dropDuplicates("doc_a", "doc_b"), sig, sig)
      .withColumn("hamming", hamming(col("simhash_a"), col("simhash_b"), bits))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  // ------------------------------------------------------ incremental dedup

  /** The persisted state of an incremental dedup run. A 100 TB corpus is
    * deduped shard-by-shard, not re-run whole: each increment joins ONLY
    * the new shard's band/content rows against these tables, so the cost of
    * step N is O(shard + collisions), never O(corpus).
    *
    *  - `content`  (doc_id, h): content hashes for exact-dup joins;
    *  - `bands`    (doc_id, band, bucket): the LSH probe surface;
    *  - `shingles` (doc_id, sh): exact-Jaccard verification payload (the
    *    heavy table — swap verification to a signature estimate to shrink
    *    the index if the corpus dimension dominates storage);
    *  - `assign`   (member_id, keep_id): current cluster assignment. Its
    *    star edges (keep→member) compress each known component while
    *    preserving connectivity, so a later shard can BRIDGE two old
    *    clusters and the union resolves exactly as a batch run would.
    *  - `meta`     one row (max_doc_id): the ENFORCED monotone-id
    *    watermark — increment ≡ batch requires every shard id to exceed
    *    every indexed id (an old id arriving late could steal min-id
    *    keepership from docs already shipped), so [[dedupIncrement]] fails
    *    loudly instead of silently choosing different keepers.
    *
    * Doc ids must be globally unique across shards (trusted: uniqueness
    * would cost a distributed distinct per shard; monotonicity is a scan).
    */
  final case class DedupIndex(
      content: DataFrame,
      bands: DataFrame,
      shingles: DataFrame,
      assign: DataFrame,
      meta: DataFrame) {
    /** Persist the index. In-place safe: after [[dedupIncrement]] the
      * tables are lazy plans that still READ the parquet under the load
      * directory, so a direct overwrite of the same dir would be
      * read-while-truncating. Every table therefore materializes fully into
      * a staging subdir first, and only then swaps into place (delete old +
      * rename staged) — the old files are never touched until the new data
      * is durably written.
      */
    def save(dir: String): Unit = {
      val spark = content.sparkSession
      val hconf = spark.sparkContext.hadoopConfiguration
      val tables = Seq("content" -> content, "bands" -> bands,
        "shingles" -> shingles, "assign" -> assign, "meta" -> meta)
      val staged = tables.map { case (name, df) =>
        val tmp = s"$dir/_staging_$name"
        df.write.mode("overwrite").parquet(tmp)
        name -> tmp
      }
      // all four staged durably → swap (rename is atomic per table on HDFS
      // and cheap on local fs; a crash mid-swap leaves recoverable staging)
      staged.foreach { case (name, tmp) =>
        val dst = new org.apache.hadoop.fs.Path(s"$dir/$name")
        val src = new org.apache.hadoop.fs.Path(tmp)
        val fs = dst.getFileSystem(hconf)
        if (fs.exists(dst)) fs.delete(dst, true)
        require(fs.rename(src, dst), s"rename $tmp -> $dst failed")
      }
    }
  }

  object DedupIndex {
    def load(spark: org.apache.spark.sql.SparkSession, dir: String): DedupIndex =
      DedupIndex(
        spark.read.parquet(s"$dir/content"),
        spark.read.parquet(s"$dir/bands"),
        spark.read.parquet(s"$dir/shingles"),
        spark.read.parquet(s"$dir/assign"),
        spark.read.parquet(s"$dir/meta"))
  }

  /** Exact-dup star edges (keeper → member) of a content table. Only
    * groups with more than one member reach the join (the filter is pushed
    * onto the aggregate), so a corpus without duplicates joins nothing.
    */
  private def exactEdges(content: DataFrame): DataFrame =
    starEdges(withRep(content).filter(col("n") > 1))

  /** Build the incremental index for an initial corpus — the same edges as
    * [[dedupCorpus]] (exact ∪ LSH-verified near-dup → connected components)
    * plus the probe tables a later [[dedupIncrement]] needs.
    */
  def buildIndex(
      docs: DataFrame, id: Column, text: Column,
      shingleK: Int = 3, numHashes: Int = 16, rowsPerBand: Int = 2,
      threshold: Double = 0.5): DedupIndex = {
    val content = docs.select(id.as("doc_id"), contentHash(text).as("h"))
    // the index's bands/shingles hold only distinct-content REPRESENTATIVES
    // — star edges carry the members (the corpusEdges argument)
    val sh = shingleTable(repDocs(docs, id, content), id, text, shingleK)
    val bands = bandTable(sh, numHashes, rowsPerBand)
    val nearPairs = lshPairs(sh, bands, threshold).select("doc_a", "doc_b")
    // the assignment IS the index's materialized state: checkpoint it so a
    // following increment's three references (reach test, star edges,
    // untouched anti-join) read rows, not a live CC plan (save()/load()
    // gives the same property through parquet on a real pipeline)
    val assign = resolveClusters(
      docs.select(id.as("member_id")),
      exactEdges(content).unionByName(nearPairs), "doc_a", "doc_b")
      .select("member_id", "keep_id")
      .localCheckpoint()
    val meta = docs.agg(max(id).as("max_doc_id")).localCheckpoint()
    DedupIndex(content, bands, sh, assign, meta)
  }

  /** Enforce the monotone-id contract: every id of the shard must exceed
    * the index watermark. One scan of shard ids against an INLINED literal
    * (the 1-row meta collects with head(); a 1-row crossJoin would plan a
    * BroadcastNestedLoopJoin — repo lore). Raises IllegalArgumentException
    * naming the contract and the offending id. */
  private[corpus] def requireMonotoneIds(
      op: String, ids: DataFrame, meta: DataFrame): Unit = {
    val maxRow = meta.head()
    if (!maxRow.isNullAt(0)) {
      val watermark = maxRow.get(0)
      val bad = ids.filter(col(ids.columns.head) <= lit(watermark)).limit(1).collect()
      require(bad.isEmpty,
        s"$op: monotone-id contract violated — shard id ${bad.headOption.map(_.get(0)).orNull} " +
          s"<= indexed max_doc_id $watermark; an old id arriving late could steal " +
          "keepership from documents already shipped. Re-key the shard above the " +
          "watermark or rebuild the index.")
    }
  }

  /** Dedup a NEW shard against a persisted index, without re-processing the
    * indexed corpus: result ≡ a batch [[dedupCorpus]]/[[buildIndex]] run
    * over (indexed ∪ new) with the same parameters.
    *
    *  - exact edges recompute only for content groups the shard touches
    *    (semi-join on the shard's hashes);
    *  - near-dup candidates come from the SHARD's bands probing
    *    (index ∪ shard) bands — old×old collisions are never re-examined,
    *    and the monotone-id contract makes every old id the pair's doc_a;
    *  - the old clusters enter the component resolution as star edges, so
    *    a shard doc bridging two previously-separate clusters merges them
    *    exactly as the batch run would (min-id keeper over the union).
    *
    * Returns (assignment over indexed ∪ new members, updated index).
    * Survivors = `assign.filter(col("member_id") === col("keep_id"))`.
    */
  def dedupIncrement(
      newDocs: DataFrame, id: Column, text: Column,
      index: DedupIndex,
      shingleK: Int = 3, numHashes: Int = 16, rowsPerBand: Int = 2,
      threshold: Double = 0.5): (DataFrame, DedupIndex) = {
    requireMonotoneIds("dedupIncrement", newDocs.select(id.as("doc_id")), index.meta)
    val newContent = newDocs.select(id.as("doc_id"), contentHash(text).as("h"))
    // band only the shard's distinct-content representatives, and only for
    // content the INDEX has not seen: a shard doc whose hash is indexed
    // reaches its group through the star edges, and that group's
    // representative already bands — re-banding it would just re-accumulate
    // signature rows shard after shard
    val newSh = shingleTable(repDocs(newDocs, id,
      newContent.join(index.content.select(col("h")), Seq("h"), "left_anti")), id, text, shingleK)
    val newBands = bandTable(newSh, numHashes, rowsPerBand)
    val allContent = index.content.unionByName(newContent)
    val allBands = index.bands.unionByName(newBands)
    val allSh = index.shingles.unionByName(newSh)
    val exactPairs = exactEdges(allContent.join(newContent.select(col("h")), Seq("h"), "left_semi"))
    // shard probes the union: doc_b is always a shard doc, so its side of
    // the verify joins back only the shard's shingles
    val cand = bandPairs(allBands, newBands).dropDuplicates("doc_a", "doc_b")
    // materialize the edge set once: it is referenced by the endpoint
    // reach test, the star union and the final resolution — without this
    // the LSH verify subtree re-executes per reference. Edges are id
    // pairs, orders of magnitude smaller than the corpus; on a real
    // cluster prefer persist()/checkpoint() (same shape).
    val newEdges = exactPairs
      .unionByName(verifyJaccard(cand, allSh, newSh, threshold).select("doc_a", "doc_b"))
      .localCheckpoint()

    // components re-resolve ONLY where the shard connects: an old cluster
    // is affected iff any member is an endpoint of a new edge (its star
    // shape makes membership the exact reach test); everything else keeps
    // its assignment untouched — increment cost is O(shard + affected
    // subgraph), never O(corpus)
    val endpoints = newEdges.select(col("doc_a").as("member_id"))
      .unionByName(newEdges.select(col("doc_b").as("member_id"))).distinct()
    val affectedKeeps = index.assign
      .join(endpoints, Seq("member_id"), "left_semi")
      .select(col("keep_id")).distinct()
    val affectedOld = index.assign
      .join(affectedKeeps, Seq("keep_id"), "left_semi")
    val oldStar = affectedOld.filter(col("member_id") =!= col("keep_id"))
      .select(col("keep_id").as("doc_a"), col("member_id").as("doc_b"))
    val members = affectedOld.select("member_id")
      .unionByName(newDocs.select(id.as("member_id"))).distinct()
    val recomputed = resolveClusters(members,
      oldStar.unionByName(newEdges), "doc_a", "doc_b")
      .select("member_id", "keep_id")
    val untouched = index.assign
      .join(affectedKeeps, Seq("keep_id"), "left_anti")
      .select("member_id", "keep_id")
    val assign = untouched.unionByName(recomputed).localCheckpoint()
    // the enforced contract makes the shard's max the new watermark (an
    // empty shard keeps the old one — max of nothing is null, not a reset)
    val shardMax = newDocs.agg(max(id).as("max_doc_id")).localCheckpoint()
    val meta = if (shardMax.head().isNullAt(0)) index.meta else shardMax
    (assign, DedupIndex(allContent, allBands, allSh, assign, meta))
  }
}
