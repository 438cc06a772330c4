package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew handling for hot conversation ids (north rule: a 10^12-turn corpus
  * has conversations orders of magnitude longer than the median — one
  * reducer must never own a whole hot key).
  *
  * Two mechanisms, used together:
  *
  *  1. AQE skew-join splitting (`spark.sql.adaptive.skewJoin.enabled`) for
  *     joins — runtime re-planning, nothing to do in the plan.
  *  2. Salted two-phase aggregation for hash aggregates whose combine step
  *     is associative: phase 1 groups by (key, salt) — the hot key's rows
  *     spread over `salts` reducers — phase 2 merges the partials by key.
  */
object Skew {

  /** Deterministic salt ∈ [0, salts): hash of stable discriminator columns
    * (NOT rand() — re-execution of a failed stage must re-derive the same
    * salt or shuffle retries double-count rows).
    */
  def salt(salts: Int, discriminators: Column*): Column =
    pmod(hash(discriminators: _*), lit(salts))

  /** Salted count per key: phase-1 count by (key, salt), phase-2 sum by
    * key. Result identical to `groupBy(key).count()`; the hot key's work is
    * spread over `salts` tasks.
    */
  def saltedCount(df: DataFrame, key: Column, saltCol: Column): DataFrame =
    df.groupBy(key.as("key"), saltCol.as("salt"))
      .agg(count(lit(1)).as("partial"))
      .groupBy(col("key"))
      .agg(sum(col("partial")).as("n"))

  import org.apache.spark.sql.expressions.Window

  /** Salted multi-line reassembly: row-identical to Correlation.multiLine
    * but no single task ever owns a whole hot key. The block id is a
    * running count of start-markers; with order-aligned (contiguous)
    * slices it decomposes into `within-slice running count + count in
    * earlier slices` — the within-slice windows run over (key, slice)
    * partitions, and the cross-slice offset is computed on the tiny
    * slice-level frame (#slices per key, not rows).
    */
  def saltedMultiLine(
      df: DataFrame,
      key: Column,
      order: Column,
      text: Column,
      isStart: Column,
      sliceSize: Int = 1000): DataFrame = {
    val d0 = df
      .withColumn("__sk_k", key)
      .withColumn("__sk_slice", floor(order / sliceSize))
      .withColumn("__sk_start", isStart.cast("int"))
    val wSlice = Window.partitionBy(col("__sk_k"), col("__sk_slice")).orderBy(order.asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withSliceOffset(d0.withColumn("__sk_wblock", sum(col("__sk_start")).over(wSlice)),
        Seq("__sk_k"), sum(col("__sk_start")))
      .withColumn("block", col("__sk_wblock") + col("__sk_off"))
      .groupBy(col("__sk_k").as("key"), col("block"))
      .agg(Correlation.blockAggs(order, text).head,
        Correlation.blockAggs(order, text).tail: _*)
  }

  /** Salted suppress: row-identical to Correlation.suppress. The previous
    * row of a slice's first element is the last row of the preceding
    * time-slice, recovered with a slice-boundary self-join instead of a
    * whole-key window. REQUIRES sliceSeconds > intervalSeconds: then a row
    * whose predecessor is ≥2 slices back is always beyond the suppress
    * interval, so a missing (empty) neighbor slice and "no predecessor"
    * are equivalent — the boundary join only ever needs slice s−1.
    */
  def saltedSuppress(
      df: DataFrame,
      key: Seq[Column],
      dupKey: Column,
      ts: Column,
      intervalSeconds: Long,
      tieBreak: Seq[Column],
      sliceSeconds: Long = 86400L): DataFrame = {
    require(sliceSeconds > intervalSeconds,
      "order-aligned slicing needs sliceSeconds > intervalSeconds")
    val order = (ts +: tieBreak).map(_.asc)
    val d0 = df
      .withColumn("__sk_k", struct(key: _*))
      .withColumn("__sk_slice", floor(unix_timestamp(ts) / sliceSeconds))
    val wSlice = Window.partitionBy(col("__sk_k"), col("__sk_slice")).orderBy(order: _*)
    // last row of each slice, shifted to feed slice+1
    val lastStruct = struct(
      (ts.as("__t") +: tieBreak.zipWithIndex.map { case (c, i) => c.as(s"__tb$i") }) :+
        dupKey.as("__d"): _*)
    val bnd = d0.groupBy(col("__sk_k"), col("__sk_slice"))
      .agg(max(lastStruct).as("__last"))
      .select(col("__sk_k"), (col("__sk_slice") + 1).as("__sk_slice"),
        col("__last").getField("__d").as("__pb_dup"),
        col("__last").getField("__t").as("__pb_ts"))
    val rn = row_number().over(wSlice)
    val prevDup = when(rn === 1, col("__pb_dup")).otherwise(lag(dupKey, 1).over(wSlice))
    val prevTs = when(rn === 1, col("__pb_ts")).otherwise(lag(ts, 1).over(wSlice))
    val keep = prevDup.isNull || prevDup =!= dupKey ||
      unix_timestamp(ts) - unix_timestamp(prevTs) > intervalSeconds
    val wRun = wSlice.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val d1 = d0.join(bnd, Seq("__sk_k", "__sk_slice"), "left")
      .withColumn("__sk_keep", keep)
      .withColumn("__sk_wrun", sum(col("__sk_keep").cast("long")).over(wRun))
    val runW = Window.partitionBy(col("__sk_k"), col("__sk_run"))
    withSliceOffset(d1, Seq("__sk_k"), sum(col("__sk_keep").cast("long")))
      .withColumn("__sk_run", col("__sk_wrun") + col("__sk_off"))
      .withColumn("repeated", count(lit(1)).over(runW) - 1)
      .filter(col("__sk_keep"))
      .drop("__sk_k", "__sk_slice", "__sk_keep", "__sk_wrun", "__sk_off",
        "__sk_run", "__pb_dup", "__pb_ts")
  }

  /** Salted sessionization: row-identical to Correlation.groupingBy (the
    * session_window plan) under the same sliceSeconds > timeoutSeconds
    * contract as saltedSuppress — a session-start marker is a gap >
    * timeout, recovered at slice boundaries by the same neighbor join;
    * session ids are marker running counts with cross-slice offsets. The
    * per-session final aggregate is bounded by session size, never by key
    * popularity.
    */
  def saltedSessionize(
      df: DataFrame,
      keys: Seq[Column],
      ts: Column,
      timeoutSeconds: Long,
      aggs: Seq[Column],
      having: Option[Column] = None,
      sliceSeconds: Long = 86400L): DataFrame = {
    require(sliceSeconds > timeoutSeconds,
      "order-aligned slicing needs sliceSeconds > timeoutSeconds")
    val grouped = sessionIds(df, keys, ts, timeoutSeconds, sliceSeconds)
      .groupBy(col("__sk_k"), col("__sk_sess"))
      .agg(aggs.head, (aggs.tail :+
        min(ts).as("session_start") :+
        (max(ts) + expr(s"INTERVAL $timeoutSeconds SECONDS")).as("session_end")): _*)
      .select(col("__sk_k.*") +: (aggs.map(a => col(extractAlias(a))) :+
        col("session_start") :+ col("session_end")): _*)
    having.fold(grouped)(grouped.filter)
  }

  /** Salted grouping-by TRIGGER blocks: row-identical to
    * Correlation.groupingByTriggered under the same
    * sliceSeconds > timeoutSeconds contract. Three order-aligned
    * decompositions stack, none of which ever windows a whole key:
    *
    *  1. session ids — within-slice running count of gap-markers +
    *     cross-slice offset (the saltedSessionize recovery: a slice's first
    *     row reads its predecessor timestamp from the neighbor-slice join;
    *     a missing neighbor slice implies a gap ≥ sliceSeconds > timeout,
    *     so null ≡ new-session is exact);
    *  2. position within session — within-(key, slice, session) rank +
    *     count of the session's rows in EARLIER slices (computed on the
    *     tiny per-(key, session, slice) frame, one row per slice a session
    *     touches, not per message);
    *  3. trigger block = (position-1) / triggerCount, then the usual hash
    *     aggregate on (key, session, block) — bounded by triggerCount rows
    *     per group regardless of key popularity.
    *
    * Every full-row window partitions by (key, slice[, session]); the only
    * whole-key windows run over slice-level frames (#slices, not rows).
    */
  def saltedGroupingByTriggered(
      df: DataFrame,
      keys: Seq[Column],
      ts: Column,
      timeoutSeconds: Long,
      triggerCount: Int,
      aggs: Seq[Column],
      injectPassThrough: Boolean = false,
      tieBreak: Seq[Column] = Nil,
      sliceSeconds: Long = 86400L): DataFrame = {
    require(sliceSeconds > timeoutSeconds,
      "order-aligned slicing needs sliceSeconds > timeoutSeconds")
    require(triggerCount >= 1, s"triggerCount must be >= 1, got $triggerCount")
    val sessions = sessionIds(df, keys, ts, timeoutSeconds, sliceSeconds)
      .drop("__sk_off")
    // position within the session: sessions are contiguous in time order,
    // so within a slice each session is a contiguous run — rank within
    // (key, slice, session) plus the session's row count in earlier slices
    val wSess = Window.partitionBy(col("__sk_k"), col("__sk_slice"), col("__sk_sess"))
      .orderBy((ts +: tieBreak).map(_.asc): _*)
    val blocked = withSliceOffset(
        sessions.withColumn("__sk_pos", row_number().over(wSess).cast("long")),
        Seq("__sk_k", "__sk_sess"), count(lit(1)))
      .withColumn("__ctx",
        floor((col("__sk_pos") + col("__sk_off") - 1) / triggerCount))
    val grouped = blocked
      .groupBy((keys :+ col("__sk_sess") :+ col("__ctx")): _*)
      .agg(aggs.head, aggs.tail: _*)
      .drop("__sk_sess", "__ctx")
    if (!injectPassThrough) grouped
    else grouped.unionByName(df, allowMissingColumns = true)
  }

  /** `df` with `__sk_k` (the key struct), `__sk_slice` and `__sk_sess`: a
    * session id per row, the running count of session-start markers (a gap
    * > timeout after the key's previous row) in `ts` order. Each (key,
    * slice) counts its own markers; a slice's first row reads its
    * predecessor from the neighbour slice's last `ts` (a missing neighbour
    * means a gap >= sliceSeconds > timeout, so null ≡ new session), and
    * [[withSliceOffset]] adds the markers of the key's earlier slices. Rows
    * tied on `ts` have a gap of 0, so a tie-break order gives the same ids.
    */
  private def sessionIds(
      df: DataFrame, keys: Seq[Column], ts: Column,
      timeoutSeconds: Long, sliceSeconds: Long): DataFrame = {
    val d0 = df
      .withColumn("__sk_k", struct(keys: _*))
      .withColumn("__sk_slice", floor(unix_timestamp(ts) / sliceSeconds))
    val wSlice = Window.partitionBy(col("__sk_k"), col("__sk_slice")).orderBy(ts.asc)
    val bnd = d0.groupBy(col("__sk_k"), col("__sk_slice"))
      .agg(max(ts).as("__pb_ts0"))
      .select(col("__sk_k"), (col("__sk_slice") + 1).as("__sk_slice"),
        col("__pb_ts0").as("__pb_ts"))
    val rn = row_number().over(wSlice)
    val prevTs = when(rn === 1, col("__pb_ts")).otherwise(lag(ts, 1).over(wSlice))
    val isNew = prevTs.isNull ||
      unix_timestamp(ts) - unix_timestamp(prevTs) > timeoutSeconds
    val wRun = wSlice.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val d1 = d0.join(bnd, Seq("__sk_k", "__sk_slice"), "left")
      .withColumn("__sk_new", isNew.cast("long"))
      .withColumn("__sk_wsess", sum(col("__sk_new")).over(wRun))
    withSliceOffset(d1, Seq("__sk_k"), sum(col("__sk_new")))
      .withColumn("__sk_sess", col("__sk_wsess") + col("__sk_off"))
  }

  /** `d` joined with `__sk_off`: per (`part`, `__sk_slice`), the sum of the
    * per-slice aggregate `n` over the same `part`'s earlier slices (0 for
    * its first) — the cross-slice running offset of an order-aligned
    * decomposition, computed on the slice-level frame (#slices, not rows).
    */
  private def withSliceOffset(d: DataFrame, part: Seq[String], n: Column): DataFrame = {
    val wOff = Window.partitionBy(part.map(col): _*).orderBy(col("__sk_slice").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = d.groupBy((part :+ "__sk_slice").map(col): _*).agg(n.as("__sk_n"))
      .withColumn("__sk_off", coalesce(sum(col("__sk_n")).over(wOff), lit(0L)))
      .drop("__sk_n")
    d.join(offsets, part :+ "__sk_slice")
  }

  /** Alias name of an agg Column (aggs passed to saltedSessionize must be
    * aliased, as they must for groupingBy's output to be addressable).
    */
  private def extractAlias(c: Column): String =
    org.apache.spark.sql.graftbridge.Bridge.expression(c) match {
      case a: org.apache.spark.sql.catalyst.expressions.Alias => a.name
      case e =>
        val m = " AS `?([A-Za-z0-9_]+)`?$".r.findFirstMatchIn(c.toString)
        m.map(_.group(1)).getOrElse(
          sys.error(s"saltedSessionize aggs must be aliased: $e"))
    }

  /** Salted group-lines (SURVEY §2.4): ordered per-conversation text
    * reassembly that survives hot conversations. Phase 1 builds ordered
    * partial joins per (conv, salt-range); phase 2 concatenates the
    * partials in salt-range order. The salt here MUST be order-aligned
    * (a contiguous turn_idx range), not a hash — concatenation of partials
    * is only correct if each partial covers a contiguous slice of the
    * order.
    *
    * Result is row-identical to the unsalted
    * `groupBy(conv).agg(concat_ws over sorted collect_list)`.
    */
  def saltedGroupLines(
      df: DataFrame,
      conv: Column,
      turnIdx: Column,
      text: Column,
      sliceSize: Int = 1000): DataFrame = {
    val slice = floor(turnIdx / sliceSize)
    df.groupBy(conv.as("conv_id"), slice.as("slice"))
      .agg(
        count(lit(1)).as("n_part"),
        concat_ws("\n",
          transform(array_sort(collect_list(struct(turnIdx.as("i"), text.as("t")))),
            x => x("t"))).as("joined_part"))
      .groupBy(col("conv_id"))
      .agg(
        sum(col("n_part")).as("n_turns"),
        concat_ws("\n",
          transform(array_sort(collect_list(struct(col("slice"), col("joined_part")))),
            x => x("joined_part"))).as("joined"))
  }

  /** Key-skew PROFILER — the measurement step in front of the salted
    * operators (choosing `salts` by guesswork either under-splits the hot
    * key or shatters every cold one): per-key row counts → the `topK`
    * hottest keys with their share of the table and a recommended salt
    * count `ceil(n_rows / targetRowsPerTask)` — the number of tasks that
    * key needs so no single reducer owns more than `targetRowsPerTask` of
    * its rows. Keys with `salts_recommended = 1` don't need salting at
    * all; feed the max to [[salt]] / the salted operators.
    *
    * Scale shape: ONE map-side-combinable hash aggregate over the key
    * (the profiler must itself survive the skew it measures — a count
    * combines on the map side, so the hot key arrives at its reducer as
    * one partial per map task, never raw rows), then a distributed
    * top-k (per-partition ordered take + single merge of `topK` rows —
    * no global sort). The total for `share` is collected with `.head()`
    * and inlined as a literal (the BroadcastNestedLoopJoin rule for
    * 1-row scalar frames); the counts frame is localCheckpointed so the
    * aggregate runs once for both the total and the take.
    *
    * Deterministic: ties at the `topK` boundary break by key ascending in
    * both the ordering and any re-execution. Output: (key, n_rows,
    * share double, salts_recommended int).
    */
  def profile(
      df: DataFrame, key: Column, topK: Int = 20,
      targetRowsPerTask: Long = 1000000L): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    require(targetRowsPerTask >= 1,
      s"targetRowsPerTask must be >= 1, got $targetRowsPerTask")
    val counts = df.groupBy(key.as("key"))
      .agg(count(lit(1)).as("n_rows"))
      .localCheckpoint()
    val totalRow = counts.agg(sum(col("n_rows"))).head()
    val total = if (totalRow.isNullAt(0)) 1L else totalRow.getLong(0)
    counts.orderBy(col("n_rows").desc, col("key").asc).limit(topK)
      .select(col("key"), col("n_rows"),
        (col("n_rows").cast("double") / lit(total.toDouble)).as("share"),
        // integral DIV, not a double divide+floor: exact at any count
        expr(s"(n_rows + ${targetRowsPerTask - 1L}) DIV $targetRowsPerTask")
          .cast("int").as("salts_recommended"))
  }
}
