package graft.corpus

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The candidate core every near-duplicate family calls: band table →
  * bucket equi-join → payload join-back for the verify, plus the min-id
  * representative collapse and the shingle postings. Each family (MinHash,
  * SimHash, hyperplane, dHash, PPJoin prefixes, containment) only supplies
  * its signature and its verify predicate.
  *
  * Column conventions: documents are `doc_id`, a content table is
  * `(doc_id, h)`, a shingle table `(doc_id, sh)`, a band table
  * `(doc_id, band, bucket)` and candidate pairs `(doc_a, doc_b)`.
  *
  * Only ids cross the candidate joins. Payloads (shingle sets, signatures,
  * vectors, image hashes) join back to surviving candidates in
  * [[verifyJoin]]: at corpus scale the payload dominates every shuffle.
  */
private[corpus] object Candidates {

  /** Band table `(doc_id, band, bucket)` over `sig` (which has `doc_id`):
    * one row per document and band, `bucket(b)` the band's key. */
  def bandRows(sig: DataFrame, numBands: Int)(bucket: Int => Column): DataFrame =
    sig.select(col("doc_id"),
      explode(array((0 until numBands).map(b =>
        struct(lit(b).as("band"), bucket(b).as("bucket"))): _*)).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bucket"))

  /** The bucket equi-join: documents of `left` and `right` sharing a
    * (band, bucket) → `(doc_a, doc_b)` with doc_a < doc_b. A pair colliding
    * in k bands comes out k times: deduplicate before an expensive verify,
    * after a cheap one. */
  def bandPairs(left: DataFrame, right: DataFrame): DataFrame =
    left.select(col("band"), col("bucket"), col("doc_id").as("doc_a"))
      .join(right.select(col("band"), col("bucket"), col("doc_id").as("doc_b")),
        Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")

  /** Candidate pairs joined back to their payloads: every column `c` of
    * `left` other than `doc_id` arrives as `c_a` (keyed by doc_a), of
    * `right` as `c_b` (keyed by doc_b). Two id-keyed hash joins. */
  def verifyJoin(cand: DataFrame, left: DataFrame, right: DataFrame): DataFrame = {
    def side(df: DataFrame, s: String) = df.select(df.columns.toSeq.map(c =>
      col(c).as(if (c == "doc_id") s"doc_$s" else s"${c}_$s")): _*)
    cand.join(side(left, "a"), Seq("doc_a")).join(side(right, "b"), Seq("doc_b"))
  }

  /** Min-id representative of every content key: `(doc_id, h)` →
    * `(h, rep, n)`, n the group size. One map-side-combinable aggregate. */
  def representatives(content: DataFrame): DataFrame =
    content.groupBy(col("h")).agg(min(col("doc_id")).as("rep"), count(lit(1)).as("n"))

  /** `rows` `(doc_id, h, …)` with its content's representative `rep` and
    * group size `n`. */
  def withRep(rows: DataFrame): DataFrame = rows.join(representatives(rows), Seq("h"))

  /** Star edges `(doc_a = rep, doc_b = member)` of a [[withRep]] frame: a
    * group of n identical contents is n − 1 edges, never its n² pair set,
    * and no group materializes its id set into one row. */
  def starEdges(repRows: DataFrame): DataFrame =
    repRows.filter(col("doc_id") =!= col("rep"))
      .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"))

  /** The rows of `docs` whose id represents its content in `content`.
    * Identical texts have identical signatures, so banding every member of
    * an exact-duplicate group makes the band join quadratic in the group
    * size (a 10⁸-copy viral page is 10¹⁶ candidate pairs); banding one
    * representative per content and carrying the members by [[starEdges]]
    * gives the same connected components. */
  def repDocs(docs: DataFrame, id: Column, content: DataFrame): DataFrame =
    docs.join(representatives(content).select(col("rep").as("__rep")),
      id === col("__rep"), "left_semi")

  /** Shingle table `(doc_id, sh)` of the docs with ≥ k words. The
    * pre-filter is on word count (≡ "has shingles", but cheap): a filter on
    * the shingle array itself would be pushed below the scan's exchange and
    * build every shingle set serially on the (often single) input split. */
  def shingleTable(docs: DataFrame, id: Column, text: Column, shingleK: Int): DataFrame =
    docs
      .filter(size(split(text, " ")) >= shingleK)
      .select(id.as("doc_id"), Dedup.shingles(text, shingleK).as("sh"))

  /** PPJoin prefix postings `(doc_id, shingle)`. Shingles get a global
    * canonical order (md5 of a seeded string: uniform, frequency-
    * independent); a set of size n posts only its first `n − ⌈t·n⌉ + 1`.
    * Two sets with Jaccard ≥ t share a posted shingle, so the posting join
    * is a lossless candidate superset at a fraction of the shuffle. */
  def prefixPostings(sh: DataFrame, threshold: Double): DataFrame = {
    val ordered = transform(
      array_sort(transform(col("sh"), s => struct(md5(concat(lit("ord:"), s)).as("h"), s.as("s")))),
      x => x("s"))
    val prefixLen = (size(col("sh")) - ceil(size(col("sh")) * threshold) + 1).cast("int")
    sh.select(col("doc_id"), explode(slice(ordered, lit(1), prefixLen)).as("shingle"))
  }

  /** Full shingle-hash postings `(doc_id, gh)`: one row per distinct
    * shingle, keyed by its md5. */
  def postings(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"), explode(col("sh")).as("g"))
      .select(col("doc_id"), md5(col("g")).as("gh"))
}
