package graft.corpus

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic pseudo-random ±1 hyperplanes / seeds derived from md5 —
  * no RNG state, so stage retries and re-runs regenerate identical planes
  * (the repo's "deterministic salts only" rule).
  */
private[corpus] object DetRandom {
  private def md5hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    d.map("%02x".format(_)).mkString
  }
  /** ±1 Rademacher component for (plane p, dim d). */
  def rademacher(p: Int, d: Int): Double =
    if (md5hex(s"hp:$p:$d").charAt(0) >= '8') 1.0 else -1.0
}

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Baseline: brute-force cosine top-k with the (small) query set broadcast —
  * one scan of the corpus, no shuffle of the corpus side, a per-query top-k
  * window at the end. Scale path: IVF — a coarse quantizer assigns every
  * vector to a cluster; queries probe only their cluster's bucket, turning
  * the scan into a hash-join on cluster id. Both paths share the same
  * codegen'd dot-product expression (higher-order functions — no UDF).
  */
object Similarity {

  /** Sequential dot product in double precision — deterministic
    * left-to-right summation (stable across engines and runs, unlike a
    * shuffled SUM). A native codegen expression ([[graft.functions.VecDot]]):
    * the equivalent `zip_with` + `aggregate` pair is interpreted and boxes
    * every element, which dominates candidate-verification volume.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.vec_dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Brute-force cosine top-k: every query vector against the whole corpus.
    * `queries` must be broadcast-sized (it is hinted); the corpus side
    * streams. Deterministic tie-break on corpus id.
    * Returns (query_id, rank, neighbor_id, score).
    */
  def cosineTopK(
      corpus: DataFrame, corpusId: Column, corpusVec: Column,
      queries: DataFrame, queryId: Column, queryVec: Column,
      k: Int): DataFrame = {
    val c = corpus.select(corpusId.as("neighbor_id"), corpusVec.as("cv"))
    val q = queries.select(queryId.as("query_id"), queryVec.as("qv"))
    val scored = c.crossJoin(broadcast(q)) // corpus side streams, queries broadcast
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("score", cosine(col("qv"), col("cv")))
    topK(scored, k)
  }

  /** IVF probe: vectors are pre-assigned to coarse clusters (`clusterCol` —
    * in production the argmin-centroid assignment, here the corpus's
    * clustering column); each query searches only its own cluster's
    * inverted list. One hash join on cluster id replaces the full scan.
    */
  def ivfTopK(
      corpus: DataFrame, corpusId: Column, corpusVec: Column, corpusCluster: Column,
      queries: DataFrame, queryId: Column, queryVec: Column, queryCluster: Column,
      k: Int): DataFrame = {
    val c = corpus.select(corpusId.as("neighbor_id"), corpusVec.as("cv"),
      corpusCluster.as("cluster"))
    val q = queries.select(queryId.as("query_id"), queryVec.as("qv"),
      queryCluster.as("cluster"))
    val scored = c.join(broadcast(q), Seq("cluster"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("score", cosine(col("qv"), col("cv")))
    topK(scored, k)
  }

  /** Exact all-pairs baseline (n² — spec/fixture comparison only; the
    * scale path is [[hyperplaneNearDupPairs]]).
    */
  def bruteForceNearDupPairs(
      corpus: DataFrame, id: Column, vec: Column, threshold: Double): DataFrame = {
    val a = corpus.select(id.as("vec_a"), vec.as("va"))
    val b = corpus.select(id.as("vec_b"), vec.as("vb"))
    a.crossJoin(broadcast(b))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos", cosine(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select("vec_a", "vec_b", "cos")
  }

  /** `bits` sign-of-projection bits per vector against deterministic ±1
    * hyperplanes (SimHash for angles, Charikar STOC'02): one array<boolean>
    * expression — a single pass over the vector per plane, no UDF.
    */
  def hyperplaneBits(vec: Column, bits: Int, dim: Int): Column = {
    val planes = typedlit((0 until bits).map(p => (0 until dim).map(d => DetRandom.rademacher(p, d))))
    transform(planes, p => dot(vec, p) >= 0)
  }

  /** Embedding-cosine near-duplicate pairs via random-hyperplane LSH on the
    * near-dup candidate core ([[Candidates]]): signature bits → bands →
    * (id, band, bucket) explode → bucket join over ids only → exact-cosine
    * verification joins vectors back for surviving candidates.
    * No crossJoin anywhere; every shuffle is bounded by bucket collisions.
    *
    * Recall: a pair at cosine c agrees per bit with p = 1 − arccos(c)/π;
    * P(miss) = (1 − p^rowsPerBand)^numBands. The defaults (128 bits, 4-bit
    * bands) hold recall 1 on the sf fixtures at threshold 0.4 (verified
    * against the exact oracle). At real corpus scale, size rowsPerBand for
    * bucket population first (buckets ≈ n/2^rowsPerBand per band): at the
    * realistic near-dup setting c ≥ 0.85 (p ≥ 0.82), rowsPerBand=16 with 8
    * bands keeps P(miss) < 2e-1 per band ladder… use 16×16 for miss < 1e-2
    * with 65k-way bucket splitting. Thresholds ≤ 0.5 sit at the edge of
    * LSH viability — bucket width and recall trade off directly; this is a
    * property of the method (the reference has no embedding operator at
    * all), and the scaladoc formula is the sizing contract.
    */
  def hyperplaneNearDupPairs(
      corpus: DataFrame, id: Column, vec: Column, threshold: Double,
      bits: Int = 128, rowsPerBand: Int = 4, dim: Int = 64): DataFrame = {
    val base = corpus.select(id.as("doc_id"), vec.as("v"))
    // fail fast on a dim mismatch: zip_with would null every projection,
    // every bit would render "0", and the bucket join would silently
    // degrade to all-pairs
    val checked = when(size(col("v")) === dim, col("v"))
      .otherwise(raise_error(concat(lit(s"hyperplane LSH configured for dim=$dim, got "),
        size(col("v")).cast("string"))))
    val sig = base.select(col("doc_id"),
      transform(hyperplaneBits(checked, bits, dim), b => when(b, "1").otherwise("0")).as("bitstr"))
    // md5 over the band slice → fixed-width bucket key
    val bands = Candidates.bandRows(sig, bits / rowsPerBand)(b =>
      md5(array_join(slice(col("bitstr"), b * rowsPerBand + 1, rowsPerBand), "")))
    // Verify FIRST, dedupe the (few) survivors after: a pair colliding in
    // k bands is verified k times (k ≤ numBands, and the codegen'd dot
    // makes each check ~free), which beats shuffling the full raw candidate
    // stream through a dropDuplicates exchange before verification — the
    // raw stream is the biggest intermediate in the whole operator.
    // norms are per-vector, so compute them once on the (tiny) vector side
    // of the join instead of per candidate pair; cos = dot/(na*nb) is then
    // one dot per pair — the same arithmetic as cosine() (identical doubles,
    // the norm is the same sqrt(dot(v,v)) either way)
    val withNorm = base.withColumn("nrm", norm(col("v")))
    Candidates.verifyJoin(Candidates.bandPairs(bands, bands), withNorm, withNorm)
      .withColumn("cos", dot(col("v_a"), col("v_b")) / (col("nrm_a") * col("nrm_b")))
      .filter(col("cos") >= threshold)
      .dropDuplicates("doc_a", "doc_b")
      .select(col("doc_a").as("vec_a"), col("doc_b").as("vec_b"), col("cos"))
  }

  /** Viral-duplicate-safe CLUSTERING edges for embedding near-dup — the
    * [[Dedup.corpusEdges]] mirror for vectors: IDENTICAL embeddings are
    * common (exact-duplicate pages embedded before text dedup, placeholder
    * vectors), they produce identical hyperplane signatures, and banding
    * every copy makes the bucket join quadratic in the group size. Here
    * identical vectors (md5 of the rendered components) collapse to one
    * representative before banding; representative→member star edges carry
    * the group (cos(v,v)=1 ≥ any threshold), so connected components over
    * these edges equal components over the all-copy pair set. Feed to
    * [[Dedup.resolveClusters]].
    */
  def embedNearDupEdges(
      corpus: DataFrame, id: Column, vec: Column, threshold: Double,
      bits: Int = 128, rowsPerBand: Int = 4, dim: Int = 64): DataFrame = {
    val hashed = corpus.select(id.as("doc_id"), vec.as("v"))
      .withColumn("h", md5(array_join(transform(col("v"), x => x.cast("string")), ",")))
    // one representative aggregate serves the star edges and the rows to band
    val withRep = Candidates.withRep(hashed)
    val repFrame = withRep.filter(col("doc_id") === col("rep"))
    Candidates.starEdges(withRep)
      .select(col("doc_a").as("vec_a"), col("doc_b").as("vec_b"))
      .unionByName(hyperplaneNearDupPairs(repFrame, col("doc_id"), col("v"), threshold,
        bits, rowsPerBand, dim).select(col("vec_a"), col("vec_b")))
  }

  /** Within-cluster embedding-cosine near-duplicate pairs: the inner step
    * of SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — documents are
    * compared ONLY against members of the same (given) cluster, turning the
    * quadratic all-pairs scan into per-cluster blocks. The join shuffles on
    * the cluster key, so each block is co-located; cost is Σ|cluster|², the
    * published method's contract — size `kClusters` so corpus/k fits the
    * per-task budget (SemDeDup uses k ≈ n/1000 at web scale, blocks of
    * ~10³ → 10⁶ dot products per block, embarrassingly parallel). Norms
    * are computed once per vector BEFORE the self-join (never per pair).
    * A hot cluster (degenerate quantizer) is the skew case: re-train with
    * larger k rather than salting — splitting a semantic cluster across
    * salt slices would silently lose cross-slice pairs.
    */
  def semanticNearDupPairs(
      corpus: DataFrame, id: Column, vec: Column, cluster: Column,
      threshold: Double): DataFrame = {
    val base = corpus.select(id.as("vec_id"), vec.as("v"), cluster.as("__cl"))
      .withColumn("nrm", norm(col("v")))
    val a = base.select(col("__cl"), col("vec_id").as("vec_a"),
      col("v").as("va"), col("nrm").as("na"))
    val b = base.select(col("__cl"), col("vec_id").as("vec_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, Seq("__cl"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select("vec_a", "vec_b", "cos")
  }

  /** SemDeDup end-to-end: train the spherical k-means quantizer, assign
    * every vector to its cluster, find within-cluster pairs at cosine ≥
    * `threshold`, resolve duplicate groups to connected components and keep
    * only each component's minimum-id survivor. Returns the surviving rows
    * of `corpus`, schema unchanged — the semantic twin of
    * [[Dedup.dedupCorpus]] (which catches lexical duplicates; SemDeDup
    * catches paraphrases the shingle families cannot).
    *
    * Same caveat as the paper: pairs in DIFFERENT clusters are never
    * compared (that approximation is the speedup) — recall against the
    * brute-force oracle is a property of quantizer quality, tested in
    * CorpusSpec on planted duplicate groups.
    */
  def semDedup(
      corpus: DataFrame, id: Column, vec: Column,
      kClusters: Int, threshold: Double, iters: Int = 5): DataFrame = {
    val centroids = kmeans(corpus, id, vec, kClusters, iters)
    val clustered = corpus.select(id.as("__sd_id"), vec.as("__sd_v"))
      .withColumn("__cl", assignCluster(normalize(col("__sd_v")), centroids))
    val pairs = semanticNearDupPairs(
      clustered, col("__sd_id"), col("__sd_v"), col("__cl"), threshold)
    val clusters = Dedup.resolveClusters(
      corpus.select(id.as("member_id")), pairs, "vec_a", "vec_b")
    corpus.join(
      clusters.filter(col("member_id") === col("keep_id"))
        .select(col("member_id").as("__keep")),
      id === col("__keep"), "left_semi")
  }

  // ------------------------------------------------------------ IVF index

  /** Deterministic spherical k-means (Lloyd) trained distributed: seeds =
    * the k vectors with the smallest md5(id) (uniform, seed-free); each
    * iteration is one scan (argmax-dot assignment against broadcast
    * centroid literals) plus one (cluster, dim) hash aggregate — the
    * driver only ever holds k×dim doubles, never data rows.
    */
  def kmeans(
      corpus: DataFrame, id: Column, vec: Column,
      k: Int, iters: Int = 5): Array[Array[Double]] = {
    val normed = corpus.select(id.as("_id"), normalize(vec).as("vn"))
    var centroids: Array[Array[Double]] = normed
      .select(col("vn"), md5(col("_id").cast("string")).as("seed"))
      .orderBy(col("seed")).limit(k)
      .collect().map(_.getSeq[Double](0).toArray)
    var it = 0
    while (it < iters) {
      val assigned = normed.withColumn("cluster", assignCluster(col("vn"), centroids))
      val sums = assigned
        .select(col("cluster"), posexplode(col("vn")).as(Seq("d", "x")))
        .groupBy(col("cluster"), col("d"))
        .agg(sum(col("x")).as("sx"))
        .collect()
      val dim = centroids(0).length
      val next = Array.tabulate(k)(c => centroids(c).clone()) // empty cluster keeps its seat
      val byCluster = sums.groupBy(_.getInt(0))
      byCluster.foreach { case (c, rows) =>
        val v = new Array[Double](dim)
        rows.foreach(r => v(r.getInt(1)) = r.getDouble(2))
        val n = math.sqrt(v.map(x => x * x).sum)
        if (n > 0) next(c) = v.map(_ / n)
      }
      centroids = next
      it += 1
    }
    centroids
  }

  /** Unit-normalize in double precision. */
  def normalize(v: Column): Column = {
    val n = norm(v)
    transform(v, x => x.cast("double") / n)
  }

  /** argmax-dot cluster id against broadcast centroid literals — pure
    * codegen'd expression, evaluated in the scan stage.
    */
  def assignCluster(vn: Column, centroids: Array[Array[Double]]): Column = {
    val scores = transform(typedlit(centroids.map(_.toSeq).toSeq), c => dot(vn, c))
    (array_position(scores, array_max(scores)) - 1).cast("int")
  }

  /** Per-query top-`nprobe` centroid list (the IVF probe set). */
  def probeClusters(vn: Column, centroids: Array[Array[Double]], nprobe: Int): Column = {
    val scored = transform(typedlit(centroids.map(_.toSeq).toSeq.zipWithIndex),
      c => struct((-dot(vn, c.getField("_1"))).as("negdot"), c.getField("_2").as("cl")))
    transform(slice(array_sort(scored), 1, nprobe), x => x.getField("cl"))
  }

  /** IVF top-k with a TRAINED coarse quantizer: corpus vectors hash-join
    * their assigned cluster's inverted list against the queries' probe
    * lists — the full scan becomes a join on cluster id. nprobe widens
    * the probe set (nprobe = k degenerates to exact brute force — useful
    * as the oracle-checkable configuration; production uses small nprobe).
    */
  def ivfTopKTrained(
      corpus: DataFrame, corpusId: Column, corpusVec: Column,
      queries: DataFrame, queryId: Column, queryVec: Column,
      k: Int, kClusters: Int, nprobe: Int, iters: Int = 5): DataFrame = {
    val centroids = kmeans(corpus, corpusId, corpusVec, kClusters, iters)
    val c = corpus.select(corpusId.as("neighbor_id"), corpusVec.as("cv"),
      assignCluster(normalize(corpusVec), centroids).as("cluster"))
    val q = queries.select(queryId.as("query_id"), queryVec.as("qv"),
      explode(probeClusters(normalize(queryVec), centroids, nprobe)).as("cluster"))
    val scored = c.join(broadcast(q), Seq("cluster"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("score", cosine(col("qv"), col("cv")))
    topK(scored, k)
  }

  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "score")
  }

  // ------------------------------------------------------------- IVF-PQ

  /** Slice sub-vector j (1-based element positions) out of a D-dim vector
    * split into m equal subspaces.
    */
  private def subVec(v: Column, j: Int, dSub: Int): Column =
    slice(v, j * dSub + 1, dSub)

  /** Plain-L2 product-quantizer training: one Lloyd iteration is a single
    * scan (all m subspaces assigned at once via posexplode) + one
    * (sub, cluster, dim) hash aggregate. Seeds = sub-vectors of the ks
    * smallest-md5(id) rows — deterministic, seed-free. Driver memory is
    * m×ks×(D/m) doubles (= D×ks), never data rows.
    */
  def pqTrain(corpus: DataFrame, id: Column, vec: Column,
      m: Int, ks: Int, iters: Int = 5): Array[Array[Array[Double]]] = {
    val dim = corpus.select(size(vec)).head().getInt(0)
    require(dim % m == 0, s"pq: dim $dim not divisible by m=$m")
    val dSub = dim / m
    val base = corpus.select(md5(id.cast("string")).as("seed"),
      transform(vec, _.cast("double")).as("v"))
    var cents: Array[Array[Array[Double]]] = {
      val seeds = base.orderBy(col("seed")).limit(ks)
        .select("v").collect().map(_.getSeq[Double](0).toArray)
      Array.tabulate(m)(j => Array.tabulate(ks)(c =>
        seeds(c % seeds.length).slice(j * dSub, (j + 1) * dSub)))
    }
    def assignSub(j: Int): Column = { // argmin L2 == argmax (2·dot − ‖c‖²)
      val lit2 = typedlit(cents(j).map(_.toSeq).toSeq)
      val scores = transform(lit2, c =>
        lit(2.0) * dot(subVec(col("v"), j, dSub), c) - dot(c, c))
      (array_position(scores, array_max(scores)) - 1).cast("int")
    }
    var it = 0
    while (it < iters) {
      val coded = base.select(col("v") +:
        (0 until m).map(j => assignSub(j).as(s"c$j")): _*)
      val sums = coded
        .select(posexplode(col("v")).as(Seq("pos", "x")),
          array((0 until m).map(j => col(s"c$j")): _*).as("cs"))
        .withColumn("sub", (col("pos") / dSub).cast("int"))
        .withColumn("cluster", element_at(col("cs"), col("sub") + 1))
        .groupBy(col("sub"), col("cluster"), (col("pos") % dSub).as("d"))
        .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
        .collect()
      val next = Array.tabulate(m)(j => cents(j).map(_.clone())) // empty keeps seat
      sums.groupBy(r => (r.getInt(0), r.getInt(1))).foreach { case ((j, c), rows) =>
        val v = new Array[Double](dSub)
        var n = 0L
        rows.foreach { r => v(r.getInt(2)) = r.getDouble(3); n = r.getLong(4) }
        if (n > 0) next(j)(c) = v.map(_ / n)
      }
      cents = next
      it += 1
    }
    cents
  }

  /** PQ codes (array<int>, one per subspace) — argmin-L2 against broadcast
    * codebook literals, pure codegen in the scan stage.
    */
  def pqEncode(vec: Column, cents: Array[Array[Array[Double]]]): Column = {
    val m = cents.length
    val dSub = cents(0)(0).length
    array((0 until m).map { j =>
      val lit2 = typedlit(cents(j).map(_.toSeq).toSeq)
      val scores = transform(lit2, c =>
        lit(2.0) * dot(subVec(vec, j, dSub), c) - dot(c, c))
      (array_position(scores, array_max(scores)) - 1).cast("int")
    }: _*)
  }

  /** Asymmetric-distance (ADC) dot-product approximation:
    * dot(q, decode(codes)) = Σ_j dot(q_subj, codebook[j][code_j]).
    */
  def adcDot(qn: Column, codes: Column, cents: Array[Array[Array[Double]]]): Column = {
    val dSub = cents(0)(0).length
    cents.indices.map { j =>
      val cvec = element_at(typedlit(cents(j).map(_.toSeq).toSeq),
        element_at(codes, j + 1) + 1)
      dot(subVec(qn, j, dSub), cvec)
    }.reduce(_ + _)
  }

  /** IVF-PQ ANN: coarse spherical-kmeans lists + product-quantized
    * RESIDUALS (v − coarse centroid), scanned with ADC and re-ranked
    * exactly. 100 TB shape: the candidate scan reads (cluster, m small
    * ints) per vector — with D=64 floats → m=8 codes that is ~30× less
    * I/O than raw vectors — and only the top-`rerank` candidates per query
    * join back to fetch true vectors for exact cosine. Score decomposition
    * dot(q,v) = dot(q, c_coarse) + dot(q, residual) means one ADC table
    * per (query, codebook) pair; everything below is codegen'd expressions
    * + two broadcast hash joins, no UDFs, no driver data.
    *
    * One-shot composition of [[buildAnnIndex]] + [[annQuery]].
    */
  def ivfPqTopK(
      corpus: DataFrame, corpusId: Column, corpusVec: Column,
      queries: DataFrame, queryId: Column, queryVec: Column,
      k: Int, kClusters: Int, nprobe: Int, m: Int, ks: Int,
      rerank: Int, iters: Int = 5): DataFrame =
    annQuery(buildAnnIndex(corpus, corpusId, corpusVec, kClusters, m, ks, iters),
      queries, queryId, queryVec, k, nprobe, rerank)

  // ------------------------------------------------- persisted ANN index

  /** The IVF-PQ index as a persistable artifact — the ANN analog of
    * Dedup.DedupIndex. Quantizers are FROZEN at build time (driver holds
    * kClusters×D + m×ks×(D/m) doubles only); the distributed state is two
    * tables:
    *
    *  - `coded` (vec_id, cluster, codes) — the compressed candidate scan;
    *  - `vectors` (vec_id, vn) — unit-normalized true vectors, fetched only
    *    for per-query re-rank survivors.
    *
    * [[annIncrement]] encodes a new shard against the frozen quantizers and
    * appends — O(shard) work, the indexed corpus is never re-read. Vec ids
    * must be globally unique across shards.
    */
  final case class AnnIndex(
      centroids: Array[Array[Double]],
      codebook: Array[Array[Array[Double]]],
      coded: DataFrame,
      vectors: DataFrame) {

    /** Persist. Same staging-then-swap discipline as DedupIndex.save: after
      * [[annIncrement]] the tables are lazy plans that may still read the
      * parquet under a load directory, so each table materializes into a
      * staging subdir first and only then swaps into place.
      */
    def save(dir: String): Unit = {
      val spark = coded.sparkSession
      import spark.implicits._
      val hconf = spark.sparkContext.hadoopConfiguration
      val centDf = centroids.zipWithIndex.toSeq
        .map { case (v, c) => (c, v.toSeq) }.toDF("cluster", "vec")
      val cbDf = (for {
        j <- codebook.indices; c <- codebook(j).indices
      } yield (j, c, codebook(j)(c).toSeq)).toDF("sub", "code", "vec")
      val tables = Seq("centroids" -> centDf, "codebook" -> cbDf,
        "coded" -> coded, "vectors" -> vectors)
      val staged = tables.map { case (name, df) =>
        val tmp = s"$dir/_staging_$name"
        df.write.mode("overwrite").parquet(tmp)
        name -> tmp
      }
      staged.foreach { case (name, tmp) =>
        val dst = new org.apache.hadoop.fs.Path(s"$dir/$name")
        val src = new org.apache.hadoop.fs.Path(tmp)
        val fs = dst.getFileSystem(hconf)
        if (fs.exists(dst)) fs.delete(dst, true)
        require(fs.rename(src, dst), s"rename $tmp -> $dst failed")
      }
    }
  }

  object AnnIndex {
    /** The driver-sized quantizer state alone (kClusters×D centroids +
      * m×ks×(D/m) codebook) — what an increment needs to encode a shard
      * without touching the distributed tables. */
    private[corpus] def loadQuantizers(
        spark: org.apache.spark.sql.SparkSession, dir: String):
        (Array[Array[Double]], Array[Array[Array[Double]]]) = {
      val cents = spark.read.parquet(s"$dir/centroids")
        .orderBy("cluster").collect()
        .map(r => r.getSeq[Double](1).toArray)
      val cbRows = spark.read.parquet(s"$dir/codebook").collect()
        .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2).toArray)).toMap
      val m = cbRows.keys.map(_._1).max + 1
      val ks = cbRows.keys.map(_._2).max + 1
      (cents, Array.tabulate(m)(j => Array.tabulate(ks)(c => cbRows((j, c)))))
    }

    def load(spark: org.apache.spark.sql.SparkSession, dir: String): AnnIndex = {
      val (cents, cb) = loadQuantizers(spark, dir)
      AnnIndex(cents, cb,
        spark.read.parquet(s"$dir/coded"),
        spark.read.parquet(s"$dir/vectors"))
    }
  }

  /** residual = vn − centroid[cluster] (IVF-PQ quantizes residuals). */
  private def residualOf(vn: Column, cluster: Column,
      centroids: Array[Array[Double]]): Column =
    zip_with(vn, element_at(typedlit(centroids.map(_.toSeq).toSeq), cluster + 1),
      (a, b) => a - b)

  /** Encode a corpus shard against FROZEN quantizers →
    * (vec_id, cluster, codes) + (vec_id, vn). One scan, pure codegen. */
  private def encodeShard(corpus: DataFrame, id: Column, vec: Column,
      centroids: Array[Array[Double]],
      codebook: Array[Array[Array[Double]]]): (DataFrame, DataFrame) = {
    val withRes = corpus
      .select(id.as("vec_id"), normalize(vec).as("vn"))
      .withColumn("cluster", assignCluster(col("vn"), centroids))
      .withColumn("res", residualOf(col("vn"), col("cluster"), centroids))
    (withRes.select(col("vec_id"), col("cluster"),
      pqEncode(col("res"), codebook).as("codes")),
      withRes.select("vec_id", "vn"))
  }

  /** Train quantizers on `corpus` and encode it. */
  def buildAnnIndex(
      corpus: DataFrame, id: Column, vec: Column,
      kClusters: Int, m: Int, ks: Int, iters: Int = 5): AnnIndex = {
    val centroids = kmeans(corpus, id, vec, kClusters, iters)
    val withRes = corpus
      .select(id.as("vec_id"), normalize(vec).as("vn"))
      .withColumn("cluster", assignCluster(col("vn"), centroids))
      .withColumn("res", residualOf(col("vn"), col("cluster"), centroids))
    val codebook = pqTrain(withRes, col("vec_id"), col("res"), m, ks, iters)
    val (coded, vectors) = encodeShard(corpus, id, vec, centroids, codebook)
    AnnIndex(centroids, codebook, coded, vectors)
  }

  /** Append a new shard: encode against the index's FROZEN quantizers and
    * union — the ANN analog of Dedup.dedupIncrement. Cost is O(shard): the
    * indexed tables are unioned lazily, never recomputed or re-read beyond
    * the query itself. (Quantizers are not retrained, so recall on the new
    * shard depends on the training corpus being representative — the
    * standard IVF-PQ freeze contract.)
    */
  def annIncrement(index: AnnIndex, newVecs: DataFrame,
      id: Column, vec: Column): AnnIndex = {
    val (coded, vectors) = encodeShard(newVecs, id, vec,
      index.centroids, index.codebook)
    index.copy(
      coded = index.coded.unionByName(coded),
      vectors = index.vectors.unionByName(vectors))
  }

  /** ADC-scan + exact-rerank top-k against a (possibly loaded) index. */
  def annQuery(
      index: AnnIndex, queries: DataFrame, queryId: Column, queryVec: Column,
      k: Int, nprobe: Int, rerank: Int): DataFrame = {
    val centLit = typedlit(index.centroids.map(_.toSeq).toSeq)
    val q = queries.select(queryId.as("query_id"), normalize(queryVec).as("qn"),
      explode(probeClusters(normalize(queryVec), index.centroids, nprobe)).as("cluster"))
    val adc = index.coded
      .select(col("vec_id").as("neighbor_id"), col("cluster"), col("codes"))
      .join(broadcast(q), Seq("cluster"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("adc_score",
        dot(col("qn"), element_at(centLit, col("cluster") + 1)) +
          adcDot(col("qn"), col("codes"), index.codebook))
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_score").desc, col("neighbor_id").asc)
    val candidates = adc.withColumn("r", row_number().over(wAdc))
      .filter(col("r") <= rerank)
      .select("query_id", "neighbor_id", "qn")
    // exact re-rank: true vectors fetched ONLY for surviving candidates
    val exact = candidates.join(
      index.vectors.select(col("vec_id").as("neighbor_id"), col("vn").as("vn2")),
      Seq("neighbor_id"))
      .withColumn("score", dot(col("qn"), col("vn2")))
    topK(exact, k)
  }

  // ------------------------------------------- streaming ANN index store

  /** Append-only versioned ANN index store with an ATOMIC pointer commit —
    * [[graft.corpus.Curate.CurateIndexStore]]'s exactly-once discipline,
    * specialized for the ANN index's defining property: under FROZEN
    * quantizers the distributed tables (`coded`, `vectors`) are
    * APPEND-ONLY. A commit therefore persists ONLY the new shard under a
    * fresh `v<batchId>` directory and swings the single `CURRENT` pointer
    * to a manifest of live versions — **O(shard) commit cost regardless of
    * index size** (the Curate store rewrites its tables each commit because
    * keepers and clusters MERGE across shards; ANN state never does).
    *
    * Pointer format: `<batchId>|<maxVecId>|<ver>,<ver>,…` — the
    * exactly-once batch watermark, the ENFORCED monotone-id watermark
    * (same contract as [[Dedup.dedupIncrement]]: every shard id must
    * exceed every indexed id, checked with ONE agg over the shard only —
    * the indexed max travels in the pointer, so the guard never scans the
    * index), and the live-version manifest whose FIRST entry is the full
    * seed (quantizers + tables) and whose rest are shard dirs. The swing
    * is write-tmp → delete → rename (atomic on POSIX/HDFS); a crash inside
    * the window leaves a durable `CURRENT.tmp` that [[load]] finishes.
    * A crash before the swing leaves an orphan shard dir the replay
    * overwrites. Single-writer by contract (one streaming query owns the
    * store); [[compact]] folds the manifest back to one self-contained
    * version when the small-dir count grows.
    */
  /** Contrastive training-pair mining — the (anchor, positive, negative)
    * triplets an embedding model trains on: positives are near-dup pairs
    * from the viral-safe MinHash-LSH path (both directions, so every
    * member of a pair anchors once), negatives are drawn DETERMINISTICALLY
    * without a cross join: every doc hashes into one of `buckets`
    * md5-buckets, each bucket elects one representative (combinable
    * min(struct) over a seeded hash), and an anchor takes the
    * representative of a hash-chosen bucket other than its own — a
    * pseudo-random other document, rerun/engine-stable, never itself.
    *
    * Scale shape: positives ride the LSH shuffle; the bucket table is
    * `buckets` rows and BROADCASTS; everything else is scan-stage md5
    * arithmetic. Random-negative quality caveat (standard): a negative
    * could rarely be a true near-dup of its anchor — filter against the
    * positive set downstream if that matters for the loss. */
  def contrastivePairs(
      docs: DataFrame, id: Column, text: Column,
      buckets: Int = 64): DataFrame = {
    require(buckets >= 2, s"need >= 2 negative buckets, got $buckets")
    def h32(tag: String, c: Column): Column =
      conv(substring(md5(concat(lit(tag), c.cast("string"))), 1, 8), 16, 10)
        .cast("long")
    val pos = Dedup.minhashLsh(docs, id, text)
    val anchors = pos
      .select(col("doc_a").as("anchor_id"), col("doc_b").as("positive_id"))
      .unionByName(pos
        .select(col("doc_b").as("anchor_id"), col("doc_a").as("positive_id")))
    val withB = docs.select(id.as("anchor_id"))
      .withColumn("__b", pmod(h32("nb:", col("anchor_id")), lit(buckets.toLong)))
    val reps = withB.groupBy(col("__b"))
      .agg(min(struct(h32("nr:", col("anchor_id")).as("h"),
        col("anchor_id").as("i"))).as("__r"))
      .select(col("__b").as("__nb"), col("__r").getField("i").as("negative_id"))
    anchors
      .join(withB, Seq("anchor_id"))
      .withColumn("__nb",
        pmod(col("__b") + 1L + pmod(h32("ns:", col("anchor_id")),
          lit((buckets - 1).toLong)), lit(buckets.toLong)))
      .join(broadcast(reps), Seq("__nb"))
      .select(col("anchor_id"), col("positive_id"), col("negative_id"))
  }

  object AnnIndexStore {
    import org.apache.hadoop.fs.{FileSystem, Path}
    import org.apache.spark.sql.SparkSession

    private def fsOf(spark: SparkSession, dir: String): FileSystem =
      new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

    /** (lastBatchId, maxVecId, manifest) at the current pointer,
      * finishing a half-swing from the durable tmp if needed. */
    private def readPointer(fs: FileSystem, dir: String): (Long, Long, Seq[String]) = {
      val cur = new Path(s"$dir/CURRENT")
      val p =
        if (fs.exists(cur)) cur
        else {
          val tmp = new Path(s"$dir/CURRENT.tmp")
          require(fs.exists(tmp), s"no CURRENT pointer (or staged tmp) under $dir")
          require(fs.rename(tmp, cur), s"pointer recovery failed under $dir")
          cur
        }
      val in = fs.open(p)
      val s = try scala.io.Source.fromInputStream(in).mkString.trim finally in.close()
      val Array(batch, maxId, vers) = s.split('|')
      (batch.toLong, maxId.toLong, vers.split(',').toSeq)
    }

    private def writePointer(fs: FileSystem, dir: String,
        batchId: Long, maxVecId: Long, manifest: Seq[String]): Unit = {
      val cur = new Path(s"$dir/CURRENT")
      val tmp = new Path(s"$dir/CURRENT.tmp")
      val out = fs.create(tmp, true)
      out.write(s"$batchId|$maxVecId|${manifest.mkString(",")}".getBytes("UTF-8"))
      out.close()
      fs.delete(cur, false)
      require(fs.rename(tmp, cur), s"pointer swing failed for batch $batchId")
    }

    /** Initialize with the seed index as version `seed` (batch −1). */
    def init(index: AnnIndex, dir: String): Unit = {
      index.save(s"$dir/seed")
      val mx = index.coded.agg(max(col("vec_id").cast("long"))).head()
      writePointer(fsOf(index.coded.sparkSession, dir), dir,
        -1L, if (mx.isNullAt(0)) Long.MinValue else mx.getLong(0), Seq("seed"))
    }

    /** The full index at the current pointer: quantizers from the seed
      * version, tables = seed ∪ committed shard versions. */
    def load(spark: SparkSession, dir: String): (AnnIndex, Long) = {
      val (last, _, manifest) = readPointer(fsOf(spark, dir), dir)
      val seedDir = s"$dir/${manifest.head}"
      val (cents, cb) = AnnIndex.loadQuantizers(spark, seedDir)
      val codedDirs = manifest.map(v => s"$dir/$v/coded")
      val vecDirs = manifest.map(v => s"$dir/$v/vectors")
      (AnnIndex(cents, cb,
        spark.read.parquet(codedDirs: _*),
        spark.read.parquet(vecDirs: _*)), last)
    }

    /** One streaming micro-batch of `(vec_id, vec)` rows = one encoded
      * shard, exactly-once over replays:
      *  1. an already-committed batchId (≤ the pointer's) is a no-op;
      *  2. otherwise the shard encodes against the FROZEN quantizers,
      *     lands under `v<batchId>` (overwrite — idempotent across a
      *     crash-before-commit replay), and only then the pointer swings.
      * Empty batches advance the batch watermark without a version.
      */
    def annBatch(batch: DataFrame, batchId: Long, dir: String,
        id: Column, vec: Column): Unit = {
      val spark = batch.sparkSession
      val fs = fsOf(spark, dir)
      val (last, maxId, manifest) = readPointer(fs, dir)
      if (batchId <= last) return
      val stats = batch.agg(
        min(id.cast("long")).as("mn"), max(id.cast("long")).as("mx")).head()
      if (stats.isNullAt(0)) { writePointer(fs, dir, batchId, maxId, manifest); return }
      require(stats.getLong(0) > maxId,
        s"annBatch: shard vec_id ${stats.getLong(0)} <= indexed max_vec_id $maxId; " +
          "the increment contract requires globally-unique, monotone ids " +
          "(a colliding id would answer queries twice)")
      val (cents, cb) = AnnIndex.loadQuantizers(spark, s"$dir/${manifest.head}")
      val (coded, vectors) = encodeShard(batch, id, vec, cents, cb)
      val ver = s"v$batchId"
      coded.write.mode("overwrite").parquet(s"$dir/$ver/coded")
      vectors.write.mode("overwrite").parquet(s"$dir/$ver/vectors")
      writePointer(fs, dir, batchId, stats.getLong(1), manifest :+ ver)
    }

    /** Fold all live versions into ONE self-contained version (quantizers
      * + unioned tables), swing the pointer, delete the superseded dirs —
      * run periodically when the shard-dir count grows. Readers holding
      * lazy plans over old versions must re-[[load]] (single-writer /
      * materialize-before-compact contract, same as CurateIndexStore's
      * version deletion). */
    def compact(spark: SparkSession, dir: String): Unit = {
      val fs = fsOf(spark, dir)
      val (last, maxId, manifest) = readPointer(fs, dir)
      if (manifest.lengthCompare(1) <= 0) return
      val (ix, _) = load(spark, dir)
      val ver = s"compact-$last"
      ix.save(s"$dir/$ver")
      writePointer(fs, dir, last, maxId, Seq(ver))
      manifest.filter(_ != ver).foreach(v => fs.delete(new Path(s"$dir/$v"), true))
    }
  }
}
