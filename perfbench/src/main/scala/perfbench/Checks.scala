package perfbench

/** Output checks. Each compares what a pass produced with what the
  * generator planted and returns the first disagreement, or None. Results
  * arrive as sequences, not maps, so a duplicated group stays visible.
  */
object Checks {

  type AggKey = (String, String, String, Long) // sink, role, tool, hour index

  private def diff[K](what: String, expected: Map[K, Long], got: Seq[(K, Long)]): Option[String] = {
    val dup = got.groupBy(_._1).collectFirst { case (k, vs) if vs.size > 1 => k }
    lazy val gotMap = got.toMap
    lazy val missing = expected.keys.find(k => !gotMap.contains(k))
    lazy val extra = gotMap.keys.find(k => !expected.contains(k))
    lazy val wrong = expected.collectFirst {
      case (k, v) if gotMap.get(k).exists(_ != v) => (k, v, gotMap(k))
    }
    dup.map(k => s"$what: group $k appears more than once")
      .orElse(missing.map(k => s"$what: group $k missing"))
      .orElse(extra.map(k => s"$what: unexpected group $k"))
      .orElse(wrong.map { case (k, e, g) => s"$what: group $k has $g, expected $e" })
  }

  /** turns_agg: per-(sink, role, tool, hour) counts. */
  def agg(expected: Map[AggKey, Long], got: Seq[(AggKey, Long)]): Option[String] =
    diff("aggregate", expected, got)

  /** turns_sinks: per-sink counts as returned and as re-read from disk. */
  def sinks(expected: Map[String, Long], returned: Seq[(String, Long)],
      reread: Seq[(String, Long)]): Option[String] =
    diff("returned sink counts", expected, returned)
      .orElse(diff("written sink rows", expected, reread))

  /** corpus_curate: one audit row per document, and exactly one document
    * per planted group surviving URL and near-duplicate dedup.
    * `audit` is (doc_id, url_keeper && dedup_keeper). */
  def curate(groupOf: Map[Long, Long], audit: Seq[(Long, Boolean)]): Option[String] = {
    val perDoc = diff("audit rows per document", groupOf.map { case (d, _) => d -> 1L },
      audit.groupBy(_._1).map { case (d, rs) => d -> rs.size.toLong }.toSeq)
    val keepers = audit.collect { case (d, true) => groupOf.getOrElse(d, -1L) }
      .groupBy(identity).map { case (g, ks) => g -> ks.size.toLong }
    val perGroup = diff("dedup keepers per group",
      groupOf.values.toSet.map((g: Long) => g -> 1L).toMap,
      keepers.toSeq)
    perDoc.orElse(perGroup)
  }

  // The check of the checks: each check must accept the expected result
  // and reject it with one count off by one, one group missing and one
  // group duplicated. Each returns the failures (empty = all rejected).

  private def corruptions[K](good: Seq[(K, Long)]): Seq[(String, Seq[(K, Long)])] = {
    val (k, v) = good.head
    Seq("off by one" -> ((k, v + 1) +: good.tail),
      "missing" -> good.tail,
      "duplicated" -> (good :+ good.head))
  }

  private def verdicts(cases: Seq[(String, Option[String], Boolean)]): Seq[String] =
    cases.collect {
      case (name, v, true) if v.nonEmpty => s"$name: rejected the correct result: ${v.get}"
      case (name, None, false)           => s"$name: accepted"
    }

  def selfTestAgg(expected: Map[AggKey, Long]): Seq[String] = {
    val good = expected.toSeq
    verdicts(("agg correct", agg(expected, good), true) +:
      corruptions(good).map { case (n, bad) => (s"agg $n", agg(expected, bad), false) })
  }

  def selfTestSinks(expected: Map[String, Long]): Seq[String] = {
    val good = expected.toSeq
    verdicts(("sinks correct", sinks(expected, good, good), true) +:
      corruptions(good).flatMap { case (n, bad) => Seq(
        (s"sinks returned $n", sinks(expected, bad, good), false),
        (s"sinks written $n", sinks(expected, good, bad), false)) })
  }

  def selfTestCurate(groupOf: Map[Long, Long]): Seq[String] = {
    // a correct audit: the smallest doc id of each group is its keeper
    val keeperOf = groupOf.groupBy(_._2).map { case (_, ds) => ds.keys.min }.toSet
    val good = groupOf.keys.toSeq.sorted.map(d => d -> keeperOf(d))
    val extra = groupOf.groupBy(_._2).collectFirst { case (_, ds) if ds.size > 1 => ds.keys.max }.get
    val first = good.find(_._2).get._1
    verdicts(Seq(
      ("curate correct", curate(groupOf, good), true),
      ("curate keeper off by one", curate(groupOf, good.map { case (d, k) => d -> (k || d == extra) }), false),
      ("curate keeper missing", curate(groupOf, good.map { case (d, k) => d -> (k && d != first) }), false),
      ("curate group missing", curate(groupOf, good.filterNot { case (d, _) => groupOf(d) == groupOf(extra) }), false),
      ("curate row duplicated", curate(groupOf, good :+ good.head), false)))
  }
}
