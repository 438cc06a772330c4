package graft

import org.apache.spark.sql.catalyst.expressions.{AttributeSet, LambdaFunction, RLike}
import org.apache.spark.sql.execution.{FilterExec, GenerateExec, InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.types.ArrayType

import graft.parsers.ParseGenerator

/** Scale-shape regression gate: the physical plan of every oracle-checked
  * query must stay the plan we'd want on a 1000-executor cluster. These
  * assertions catch a silent drift back to an n² join or a lost broadcast
  * long before a benchmark would.
  */
class PlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sfUnit).queryExecution.executedPlan.toString()

  /** The physical plan of `name` before it runs (adaptive wrapper removed). */
  private def physicalOf(name: String): SparkPlan =
    SparkEntry.queries(name)(spark, sfUnit).queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  private def parseGenerates(p: SparkPlan): Seq[GenerateExec] =
    p.collect { case g: GenerateExec if g.generator.isInstanceOf[ParseGenerator] => g }

  /** Parse stages per query. Each must plan as exactly one `Generate`;
    * q_parse_* queries built on Column-expression parsers (FieldParsers)
    * have none. A new q_parse_* query must declare its count here. */
  private val parseStages: Map[String, Int] = Map(
    "q_parse_syslog" -> 1, "q_parse_syslog_hdr" -> 1, "q_parse_cisco" -> 1,
    "q_parse_errors" -> 1, "q_parse_date" -> 1, "q_parse_csv_quoted" -> 1,
    "q_parse_kv_quoted" -> 1, "q_parse_snmptrapd" -> 1, "q_parse_patterndb" -> 1,
    "q_parse_kv" -> 0, "q_parse_json" -> 0, "q_parse_csv" -> 0, "q_parse_rfc5424" -> 0,
    "q_parse_audit" -> 0, "q_parse_xml" -> 0, "q_parse_tags" -> 0,
    "q_sink_counts" -> 1)

  /** Queries that filter on a parse output: the filter must exist and sit
    * above the parse `Generate`. */
  private val filtersOnParse = Set("q_parse_syslog", "q_parse_errors", "q_parse_date")

  test("parse gate: one Generate per parse stage, no RDD round trip, predicates above it") {
    // parse plans compare structurally, so a frame another suite cached
    // (PipelineSpec's flagged frame) would stand in for the parse here as an
    // InMemoryTableScan: drop caches so this asserts the cold-plan shape
    spark.sharedState.cacheManager.clearCache()
    val names = SparkEntry.queries.keys.filter(_.startsWith("q_parse_")).toSeq.sorted :+
      "q_sink_counts"
    assert(names.toSet === parseStages.keySet,
      "every q_parse_* query must declare its parse-stage count")
    names.foreach { name =>
      val p = physicalOf(name)
      assert(!p.toString.contains("ExistingRDD"), s"$name lowers to an RDD:\n$p")
      val gens = parseGenerates(p)
      assert(gens.length === parseStages(name),
        s"$name: expected ${parseStages(name)} parse Generate(s), saw ${gens.length}:\n$p")
      gens.foreach { g =>
        val outs = AttributeSet(g.generatorOutput)
        val onParse = p.collect {
          case f: FilterExec if f.condition.references.intersect(outs).nonEmpty => f
        }
        onParse.foreach(f => assert(f.find(_ eq g).isDefined,
          s"$name: a predicate on parse outputs sits outside the parse's subtree:\n$p"))
        if (filtersOnParse(name))
          assert(onParse.nonEmpty, s"$name: expected a filter on the parse outputs:\n$p")
      }
    }
  }

  /** Queries whose plan legitimately contains a broadcast nested-loop or
    * cartesian stage, with the reason it is scale-safe. */
  private val nestedLoopAllowed: Map[String, String] = Map(
    "q_embed_topk" -> "brute-force top-k: query set is tiny and broadcast; corpus side streams")

  test("no unbounded join: every query plans without cartesian/nested-loop (except declared)") {
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      if (nestedLoopAllowed.contains(name)) None
      else {
        val p = planOf(name)
        if (p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"))
          Some(name)
        else None
      }
    }
    assert(offenders.isEmpty,
      s"queries with an unbounded join in the physical plan: ${offenders.mkString(", ")}")
  }

  test("enrichment joins broadcast (no shuffle of the fact side for small dims)") {
    val p = planOf("q_enrich")
    assert(p.contains("BroadcastHashJoin"), "q_enrich should broadcast the lookup dim")
    assert(!p.contains("SortMergeJoin"), "q_enrich must not sort-merge a tiny dim")
  }

  test("text-stats scan prunes to the columns it needs") {
    val p = planOf("q_text_stats")
    // ReadSchema on the documents scan must not drag the wide text-adjacent
    // columns we never touch (payload etc. if present) — cheap proxy: the
    // scan line lists a bounded column set.
    val scanLine = p.linesIterator.find(_.contains("Scan parquet")).getOrElse("")
    assert(scanLine.nonEmpty, "expected a parquet scan")
    assert(!scanLine.contains("embedding"), "documents scan must not read embedding columns")
  }

  test("exact dedup is a single map-side-combinable aggregation") {
    val p = planOf("q_dedup_exact")
    val exchangeCount = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchangeCount <= 1,
      s"q_dedup_exact should shuffle at most once, saw $exchangeCount:\n$p")
    assert(p.contains("HashAggregate"), "expected partial+final hash aggregate")
  }

  test("minhash LSH plan shuffles ids, not shingle arrays, into the band join") {
    // every banded family: the candidate join is keyed on the band, and
    // each side carries band, bucket and ONE id column — no shingle array,
    // signature, vector or hash payload crosses it
    Seq("q_dedup_minhash", "q_dedup_simhash_pairs", "q_dedup_embed",
        "q_multimodal_dhash_pairs").foreach { name =>
      val p = physicalOf(name)
      val bandJoins = collect(p) {
        case j: BaseJoinExec if j.leftKeys.flatMap(_.references).exists(_.name == "band") => j
      }
      assert(bandJoins.nonEmpty, s"$name: expected an equi-join on the band:\n$p")
      for (j <- bandJoins; side <- j.children) {
        val ids = side.output.filterNot(a => a.name == "band" || a.name == "bucket")
        assert(side.output.map(_.name).toSet.contains("bucket") && ids.length == 1 &&
          !ids.head.dataType.isInstanceOf[ArrayType],
          s"$name: band join input should be (band, bucket, id), got " +
            s"${side.output.map(a => s"${a.name}:${a.dataType.simpleString}").mkString(", ")}:\n$p")
      }
    }
  }

  /** Each whole-stage codegen stage of `plan` as the operators it fuses
    * (its subtree down to its InputAdapters). */
  private def codegenStages(plan: SparkPlan): Seq[Seq[SparkPlan]] = {
    def fused(n: SparkPlan): Seq[SparkPlan] = n +: (n match {
      case _: InputAdapter => Nil
      case other => other.children.flatMap(fused)
    })
    collect(plan) { case w: WholeStageCodegenExec => fused(w.child) }
  }

  test("sink fan-out reads the route flags: no lambda, route predicates under codegen") {
    // an explode of `routes` (an array lambda) would pull every route
    // predicate into the interpreted lambda; the fan-out must explode the
    // flags so the predicates stay in a codegen'd projection. The flagged
    // frame is cached by PipelineSpec and would hide the predicates
    spark.sharedState.cacheManager.clearCache()
    Seq("q_sink_counts", "q_route").foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfUnit)
      df.collect()
      val plan = df.queryExecution.executedPlan
      val lambdas = collect(plan) {
        case n if n.expressions.exists(_.exists(_.isInstanceOf[LambdaFunction])) => n
      }
      assert(lambdas.isEmpty, s"$name evaluates an array lambda:\n$plan")
      // `fallback` negates the errors predicate, so RLike may appear more
      // than once; every operator evaluating it must be codegen'd
      val routing = collect(plan) {
        case n if n.expressions.exists(_.exists(_.isInstanceOf[RLike])) => n
      }
      assert(routing.nonEmpty, s"$name: no operator evaluates the route predicates:\n$plan")
      val fused = codegenStages(plan).flatten
      routing.foreach(n => assert(fused.exists(_ eq n),
        s"$name: ${n.nodeName} evaluates route predicates outside whole-stage codegen:\n$plan"))
    }
  }

  test("post-parse filter/projection stays inside whole-stage codegen") {
    // the parse Generate, the rule_id filter and the projection above it
    // must fuse into one codegen stage. The plan is adaptive (the
    // transcript derivation shuffles), so its codegen stages exist only
    // once it runs: run it and read the final plan.
    val df = SparkEntry.queries("q_parse_syslog")(spark, sfUnit)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val p = plan.toString()
    assert(p.contains("*("), s"parse pipeline should codegen:\n$p")
    // one codegen stage's fused subtree holds both the rule_id filter and
    // the parse
    val stage = codegenStages(plan).find { ns =>
      ns.exists {
        case f: FilterExec => f.condition.references.exists(_.name == "rule_id")
        case _ => false
      } && ns.exists(_.isInstanceOf[GenerateExec])
    }
    assert(stage.isDefined, s"parse + rule_id filter should share a codegen stage:\n$p")
  }

  test("round-4 corpus queries keep their scan-stage / single-shuffle shapes") {
    // The documents() helper round-robin-repartitions (single-file parquet
    // = one scan partition otherwise) — that Exchange is input spreading,
    // not a key shuffle; these assertions count KEY shuffles only.
    def keyShuffles(p: String): Int = "Exchange hashpartitioning".r.findAllIn(p).length
    // C4 cleaning: a scan-stage projection — per-row, zero key shuffles
    // (the line-rule lambdas are array HOFs, which evaluate interpreted and
    // keep the projection outside WholeStageCodegen; still one pass)
    val c4 = planOf("q_text_c4")
    assert(keyShuffles(c4) === 0, s"c4 is a per-row projection, no key shuffle:\n$c4")
    // temperature mixture: counts collected at plan time; the emitted plan
    // is a pure scan projection (the CASE thresholds are literals)
    val mix = planOf("q_corpus_mixture")
    assert(keyShuffles(mix) === 0, s"mixture must not key-shuffle:\n$mix")
    // shard assignment: exactly one key shuffle (the per-shard rank window)
    val sh = planOf("q_corpus_shards")
    assert(keyShuffles(sh) <= 1,
      s"shard assignment should shuffle once (the window), saw ${keyShuffles(sh)}:\n$sh")
  }

  test("round-5 corpus queries keep their broadcast / single-shuffle shapes") {
    def keyShuffles(p: String): Int = "Exchange hashpartitioning".r.findAllIn(p).length
    // novelty audit: the corpus side must reach the bench postings via a
    // BROADCAST join (corpus never key-shuffles for the probe); the only
    // key shuffles are the tiny per-bench aggregations
    val nov = planOf("q_corpus_novelty")
    assert(nov.contains("BroadcastHashJoin"),
      s"novelty audit must broadcast the bench postings:\n$nov")
    // BFD packing: the packer is an InternalRow stage over a
    // shard-repartitioned sort (it depends on row order within a
    // partition, so it stays on the RDD path), so its shard Exchange lives
    // BELOW the ExistingRDD boundary; the visible plan must
    // add NO further key shuffle — everything above the stage is a pure
    // projection
    val bfd = planOf("q_corpus_pack_bfd")
    assert(bfd.contains("Scan ExistingRDD"),
      s"BFD packing should be an InternalRow stage:\n$bfd")
    assert(keyShuffles(bfd) === 0,
      s"no key shuffle above the packing stage, saw ${keyShuffles(bfd)}:\n$bfd")
  }

  test("round-5 additions: chunking/buckets/assembly keep their scale shapes") {
    def keyShuffles(p: String): Int = "Exchange hashpartitioning".r.findAllIn(p).length
    // word-window chunking: index arithmetic + explode — a per-row
    // projection, zero key shuffles at any corpus size
    val ch = planOf("q_corpus_chunks")
    assert(keyShuffles(ch) === 0, s"chunking must not key-shuffle:\n$ch")
    // perplexity buckets: the bucket CASE rides the scoring plan — the
    // model dims must broadcast (the corpus never key-shuffles to meet the
    // model; its only key shuffle is the per-doc aggregate)
    val bk = planOf("q_text_buckets")
    assert(bk.contains("BroadcastHashJoin"),
      s"bucket scoring must broadcast the model dims:\n$bk")
    // pack assembly: the assignment window (shard) + the (shard, pack)
    // group — two key shuffles, nothing more (no window re-sort, no join)
    val asm = planOf("q_corpus_pack_asm")
    assert(keyShuffles(asm) <= 2,
      s"assembly adds at most the group shuffle over the window, saw ${keyShuffles(asm)}:\n$asm")
    // epoch up-sampling: the plan rides as a map literal, the copies are a
    // scan-stage explode — the corpus must never key-shuffle (the token
    // counts behind the plan are a separate bounded-enum aggregate)
    val up = planOf("q_corpus_upsample")
    assert(keyShuffles(up) === 0, s"upsampling must not key-shuffle:\n$up")
    // skew profiler: the count aggregate sits BEFORE the localCheckpoint
    // (its one key shuffle is gated in SkewSpec on the pre-checkpoint
    // plan); the visible tail must be a TakeOrdered merge over the
    // checkpointed counts — a distributed top-k, never a global Sort or a
    // second hash exchange
    val pr = planOf("q_skew_profile")
    assert(pr.contains("TakeOrderedAndProject"),
      s"profiler top-k must be TakeOrdered, not a global sort:\n$pr")
    assert(keyShuffles(pr) === 0,
      s"no hash exchange after the checkpointed counts:\n$pr")
  }

  test("web-graph tier: link scan stays shuffle-free, importance broadcasts, cap is one window") {
    def keyShuffles(p: String): Int = "Exchange hashpartitioning".r.findAllIn(p).length
    // href extraction + resolution is a pure per-row projection
    val lk = planOf("q_web_links")
    assert(keyShuffles(lk) === 0, s"link extraction must not key-shuffle:\n$lk")
    // importance: the ranks frame is graph-sized and localCheckpoint'd, so
    // the corpus picks its ranks up through a BROADCAST join — zero key
    // shuffles on the doc side at any corpus size
    val imp = planOf("q_web_importance")
    assert(imp.contains("BroadcastHashJoin"),
      s"importance must broadcast the domain ranks:\n$imp")
    assert(keyShuffles(imp) === 0,
      s"the corpus must never key-shuffle to meet its ranks, saw ${keyShuffles(imp)}:\n$imp")
    // per-domain cap: exactly ONE key shuffle — the domain window
    val cap = planOf("q_corpus_domcap")
    assert(keyShuffles(cap) === 1,
      s"domain cap is one window partitioned by domain, saw ${keyShuffles(cap)}:\n$cap")
    assert(cap.contains("Window"), s"expected a window stage:\n$cap")
    // SFT loss-mask assembly: the offset window and the per-conversation
    // aggregate share the conv_id partitioning — ONE shuffle beyond the
    // transcript derivation's own user_id exchange (q_sft_pairs shows the
    // same 2 total), and no exchange may sit between window and aggregate
    val sm = planOf("q_sft_masked")
    assert(keyShuffles(sm) === 2,
      s"window + same-key group-by must add one shuffle over the transcript CTE, saw ${keyShuffles(sm)}:\n$sm")
    assert("hashpartitioning\\(conv_id".r.findAllIn(sm).length === 1,
      s"the aggregate must reuse the window's conv_id partitioning:\n$sm")
    // anchor aggregation: the (dst, anchor) count + the per-dst rank
    // window — two key shuffles, and the window only ever sees the
    // counted anchor vocabulary, never raw in-links
    val an = planOf("q_web_anchors")
    assert(keyShuffles(an) <= 2,
      s"anchor top-k is count + rank window, saw ${keyShuffles(an)}:\n$an")
    assert(an.contains("HashAggregate"),
      s"anchor counts must partial-aggregate map-side:\n$an")
    // snapshot diff: one id-keyed full outer join over (id, hash) pairs —
    // the two sides' exchanges, nothing more, and never the texts
    val df = planOf("q_corpus_diff")
    assert(keyShuffles(df) <= 2,
      s"diff is one id join (two side exchanges max), saw ${keyShuffles(df)}:\n$df")
    assert(df.contains("FullOuter"), s"expected a full outer join:\n$df")
    // exemplars: one stratum window
    val ex = planOf("q_corpus_exemplars")
    assert(keyShuffles(ex) === 1,
      s"exemplars is one stratum window, saw ${keyShuffles(ex)}:\n$ex")
    // compliance signals and JSONL rendering are pure scan projections
    for (q <- Seq("q_corpus_optout", "q_corpus_jsonl")) {
      val p = planOf(q)
      assert(keyShuffles(p) === 0, s"$q must not key-shuffle:\n$p")
    }
    // containment: the candidate join must be a hash join on the shingle
    // md5 (postings only — never a cartesian verify), counts combinable
    // keyed join on the shingle md5 in any flavor (broadcast at unit SF,
    // sort-merge at scale) — never cartesian/nested-loop
    val ct = planOf("q_dedup_containment")
    assert(ct.contains("HashJoin") || ct.contains("SortMergeJoin"),
      s"containment candidates come from a keyed posting join:\n$ct")
    assert(!ct.contains("CartesianProduct") && !ct.contains("BroadcastNestedLoopJoin"),
      s"containment must never go quadratic in the plan:\n$ct")
    // markdown structure: pure scan projection
    val mk = planOf("q_text_markdown")
    assert(keyShuffles(mk) === 0, s"markdown stats must not key-shuffle:\n$mk")
    // robots policy: the rule table is domain-sized and must BROADCAST to
    // the corpus's URLs; the only corpus-keyed shuffle is the winner agg
    val rb = planOf("q_corpus_robots")
    assert(rb.contains("BroadcastHashJoin"),
      s"robots rules must broadcast onto the URLs (equi-key domain + prefix residual):\n$rb")
    // the remaining key shuffles all sit on the rule-derivation side
    // (domain-sized frames — parse windows, group joins, the duplicated
    // subtree under both parse branches); the corpus-sized URL side meets
    // the rules ONLY through the broadcast and its one winner aggregate
    assert(!rb.contains("CartesianProduct"),
      s"robots matching must stay keyed:\n$rb")
    // tf-idf: two combinable aggregates + the token join + one doc window
    val kw = planOf("q_text_keywords")
    assert(kw.contains("HashAggregate") && kw.contains("Window"),
      s"tf-idf is aggregates + a rank window:\n$kw")
    assert(keyShuffles(kw) <= 5,
      s"tf-idf shuffles: tf, df, join sides, window only — saw ${keyShuffles(kw)}:\n$kw")
  }

  test("round-5 closing additions keep their scale shapes") {
    def keyShuffles(p: String): Int = "Exchange hashpartitioning".r.findAllIn(p).length
    // objective prep + pseudonymization: pure per-row projections — zero
    // key shuffles at any corpus size
    for (q <- Seq("q_corpus_fim", "q_corpus_spancorrupt", "q_pii_pseudonym")) {
      val p = planOf(q)
      assert(keyShuffles(p) === 0, s"$q must not key-shuffle:\n$p")
    }
    // snmptrapd: one parse Generate (the parse gate above); the only key
    // shuffle is the transcript derivation's, below it — none above it
    val sn = physicalOf("q_parse_snmptrapd")
    val snParse = parseGenerates(sn).head
    val snShuffles = sn.collect { case e: ShuffleExchangeExec => e }
    assert(snShuffles.forall(e => snParse.find(_ eq e).isDefined),
      s"no key shuffle above the parse stage:\n$sn")
    // WordPiece scoring: the alphabet-sized symbol counts BROADCAST onto
    // the pair counts; key shuffles are the two count aggregates + the
    // top-k sort boundary, never a corpus-keyed join
    val wp = planOf("q_corpus_wordpiece")
    assert(wp.contains("BroadcastHashJoin"),
      s"symbol counts must broadcast onto pair counts:\n$wp")
    assert(!wp.contains("SortMergeJoin"),
      s"no sort-merge of alphabet-sized sides:\n$wp")
    // retraction: broadcast semi+anti joins, one re-rank window — the
    // corpus-keyed shuffles are the window alone
    val rt = planOf("q_corpus_retract")
    assert(rt.contains("BroadcastHashJoin"),
      s"takedown set must broadcast:\n$rt")
    // corpus-keyed shuffle = the shard re-rank window alone; the other two
    // exchanges are the takedown-list-sized distinct()s (id set + affected
    // shard set), which stay retraction-sized at any corpus size
    assert(keyShuffles(rt) <= 3 && "Window".r.findAllIn(rt).length === 1,
      s"retract = 1 window + 2 takedown-sized distincts, saw ${keyShuffles(rt)}:\n$rt")
  }

  test("query-side filter pushes down into the parquet scan") {
    // q_embed_topk's query set is `vec_id < 5` — that predicate must reach
    // the embeddings scan as a pushed filter, not run post-scan only.
    // (Other suites may have cached the raw embeddings scan, which would
    // legitimately substitute an InMemoryRelation; drop caches so this
    // asserts the cold-plan shape.)
    spark.sharedState.cacheManager.clearCache()
    val p = SparkEntry.queries("q_embed_topk")(spark, sfUnit)
      .queryExecution.executedPlan.toString()
    assert(p.contains("LessThan(vec_id"), // the PushedFilters rendering
      s"expected vec_id<5 pushed to the parquet scan:\n$p")
  }
}
