package graft.operators

import java.util.regex.Pattern

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.{col, struct}
import org.apache.spark.sql.types.{BooleanType, LongType, StructField}
import org.apache.spark.unsafe.types.UTF8String

import graft.parsers.{ParseStage, RowParser}

/** group-lines(smart) — the full multi-language backtrace FSM (reference
  * lib/multi-line/smart-multi-line.c, table lib/multi-line/
  * smart-multi-line.fsm). The transition table ships as DATA
  * (resources/graft/smart-multi-line.fsm, same TSV format the reference
  * loads: `from-states<TAB>/regexp/<TAB>to-state`, '#' comments,
  * smart-multi-line.c:138-178 _read_rules), covering Java/Python/PHP/Go/
  * Ruby/Dart/JS exception traces.
  *
  * Semantics (smart-multi-line.c:266-302 _process_segment): each line runs
  * the FSM from the current state — unanchored PCRE match over the rules
  * registered for that state in table order (multi-line-pattern.c:104
  * pcre2_match with no anchor flags ≡ java.util.regex find). A miss resets
  * to start_state and retries ONCE (a non-continuation line may begin a new
  * trace). A line is `trace` when either attempt matched; it `starts a new
  * trace` when the retry matched or the previous line left the FSM in
  * start_state. The accumulate verdicts (smart-multi-line.c:305-402) reduce
  * in batch to: a line starts a new block iff it is not a trace line (every
  * non-trace line is its own message, MLL_EXTRACTED immediately) or it
  * starts a new trace (MLL_REWIND_SEGMENT closes the previous block).
  *
  * Batch shape: the FSM is sequential per key, so it runs as a [[Fold]] in
  * one `Generate` (a non-deterministic [[graft.parsers.ParseGenerator]])
  * over `repartition(key) + sortWithinPartitions(key, order)` — one
  * shuffle, the same cost class as the window-based multi-line modes, and
  * the partition count (not the key count) bounds parallelism. Rows of one
  * key never split across partitions, so per-task state is exact, and no
  * predicate on an input column is pushed below the fold.
  */
object SmartMultiLine {

  /** One transition: applicable from-states, compiled regex, target state. */
  final case class Rule(fromStates: Array[Int], pattern: Pattern, toState: Int)

  /** The compiled table: rules grouped per from-state, table order kept
    * (smart-multi-line.c:60-82 _reshuffle_rules_by_from_state). */
  final class Fsm(val rulesByState: Array[Array[Rule]]) extends Serializable

  final val StartState = 0

  /** Parse the TSV table (smart-multi-line.c:138-178: skip blank/'#' lines,
    * 3 tab-separated fields, `/…/` delimiters stripped when the first and
    * last regexp chars match). */
  def load(tsv: String): Fsm = {
    val stateIds = scala.collection.mutable.HashMap("start_state" -> StartState)
    def stateId(name: String): Int =
      stateIds.getOrElseUpdate(name, stateIds.size)
    val rules = ArrayBuffer.empty[Rule]
    tsv.linesIterator.foreach { raw =>
      val line = raw.stripLineEnd
      if (line.nonEmpty && !line.startsWith("#")) {
        line.split("\t", 3) match {
          case Array(from, re, to) =>
            val body =
              if (re.length >= 2 && re.head == re.last) re.substring(1, re.length - 1)
              else re
            rules += Rule(
              from.split(",").map(s => stateId(s.trim)),
              Pattern.compile(body),
              stateId(to.trim))
          case _ =>
            sys.error(s"smart-multi-line.fsm: need <from>\\t/regexp/\\t<to>: $line")
        }
      }
    }
    val byState = Array.fill(stateIds.size)(ArrayBuffer.empty[Rule])
    for (r <- rules; s <- r.fromStates) byState(s) += r
    new Fsm(byState.map(_.toArray))
  }

  /** The bundled reference table. */
  lazy val bundled: Fsm = {
    val in = getClass.getResourceAsStream("/graft/smart-multi-line.fsm")
    require(in != null, "missing resource graft/smart-multi-line.fsm")
    try load(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
    finally in.close()
  }

  /** Per-key sequential classifier. `step` returns whether the line STARTS
    * a new block; call `reset()` at each key boundary. */
  final class Tracker(fsm: Fsm) {
    private var state = StartState

    def reset(): Unit = state = StartState

    private def transition(line: String): Boolean = {
      val rules = fsm.rulesByState(state)
      var i = 0
      while (i < rules.length) {
        if (rules(i).pattern.matcher(line).find()) {
          state = rules(i).toState
          return true
        }
        i += 1
      }
      state = StartState
      false
    }

    def step(line: String): Boolean = {
      val lastEnded = state == StartState
      var startsNew = false
      var isTrace = transition(line)
      if (!isTrace) {
        isTrace = transition(line) // retry from start_state (STEP2)
        if (isTrace) startsNew = true
      } else if (lastEnded) startsNew = true
      !isTrace || startsNew
    }
  }

  /** The FSM as a per-row fold over `struct(key, text)` rows that arrive
    * sorted by (key, order): each line's `__sml_start` and `__sml_block`.
    * The state is per task and resets when the key changes; a null line is
    * a non-trace line. */
  private final case class Fold(fsm: Fsm) extends RowParser[InternalRow] {
    def label: String = "smart_multi_line"
    def fields: Seq[StructField] = Seq(
      StructField("__sml_start", BooleanType, nullable = false),
      StructField("__sml_block", LongType, nullable = false))
    override def deterministic: Boolean = false
    @transient private lazy val tracker = new Tracker(fsm)
    @transient private var key: UTF8String = _
    @transient private var block = 0L

    def parse(in: InternalRow): InternalRow = {
      val k = in.getUTF8String(0)
      if (k != key) { tracker.reset(); key = if (k == null) null else k.clone(); block = 0L }
      val line = in.getUTF8String(1)
      val isStart = if (line == null) { tracker.reset(); true } else tracker.step(line.toString)
      if (isStart) block += 1L
      InternalRow(isStart, block)
    }
  }

  /** Annotate each row with `__sml_start` (block-start marker) and
    * `__sml_block` (per-key running block ordinal) by running the FSM over
    * each key's lines in `order`. One shuffle (hash on key), then the
    * [[Fold]] over the partition-local sort; null text is a non-trace line.
    * The block id comes out of the same scan, so no window pass is needed
    * downstream. */
  def annotateStarts(
      df: DataFrame, key: Column, order: Column, text: Column,
      fsm: Fsm = bundled): DataFrame = {
    val sorted = df
      .withColumn("__sml_key", key.cast("string"))
      .repartition(col("__sml_key"))
      .sortWithinPartitions(col("__sml_key"), order)
    ParseStage(sorted, struct(col("__sml_key"), text.cast("string")), Fold(fsm))
      .drop("__sml_key")
  }

}
