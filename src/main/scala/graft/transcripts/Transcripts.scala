package graft.transcripts

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.StructType

/** The canonical input table of the engine: multi-turn conversation/agent
  * transcripts `(conv_id, turn_idx, role, text, tool, ts)`.
  *
  * There is no transcripts parquet on disk; per the north rule the table is
  * synthesized deterministically. We derive it from the driver-generated
  * `events` parquet with a dialect-portable SQL derivation so that the exact
  * same rows can be produced independently by the DuckDB oracle (the driver's
  * correctness gate) — every value in `text` is a pure function of
  * `(event_id, user_id, ts)`.
  *
  * The embedded line shapes mirror the reference's e2e test inputs
  * (BSD-syslog lines as in reference tests/light/functional_tests/logpath/
  * test_flags_final.py:41, kv pairs as in modules/kvformat/tests, JSON as in
  * modules/json/tests, CSV as in modules/csvparser/tests), plus a fixed
  * fraction of unparsable garbage that must receive a parse-error tag, not be
  * dropped (semantics of reference lib/logmsg/logmsg.h:105-124).
  */
object Transcripts {

  /** Deterministic derivation, dialect-portable between Spark SQL and DuckDB.
    * `{STR}` is the string-cast type name (`string` vs `varchar`).
    * `transcripts_full` keeps generator ground-truth helper columns so oracle
    * SQL can assert what a parser must recover; `transcripts` is the clean
    * 6-column input_hint schema.
    */
  val cteTemplate: String = """WITH t0 AS (
  SELECT event_id AS e, ts, user_id,
         cast(row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS int) AS turn_idx
  FROM events
), t1 AS (
  SELECT e, ts, turn_idx,
    concat('conv-', lpad(cast(user_id AS {STR}), 6, '0')) AS conv_id,
    CASE cast(turn_idx % 4 AS int) WHEN 0 THEN 'user' WHEN 1 THEN 'assistant' WHEN 2 THEN 'system' ELSE 'tool' END AS role,
    CASE WHEN turn_idx % 4 = 3 THEN
      CASE cast(e % 4 AS int) WHEN 0 THEN 'bash' WHEN 1 THEN 'search' WHEN 2 THEN 'editor' ELSE 'browser' END
    ELSE NULL END AS tool,
    CASE WHEN e % 97 = 0 THEN 4 ELSE cast(e % 4 AS int) END AS variant,
    CASE WHEN e % 7 = 0 THEN 'error' WHEN e % 7 = 1 THEN 'fail' ELSE 'ok' END AS status,
    cast(e % 24 AS int) AS fac, cast(e % 8 AS int) AS sev,
    CASE cast(e % 12 AS int) WHEN 0 THEN 'Jan' WHEN 1 THEN 'Feb' WHEN 2 THEN 'Mar' WHEN 3 THEN 'Apr' WHEN 4 THEN 'May' WHEN 5 THEN 'Jun' WHEN 6 THEN 'Jul' WHEN 7 THEN 'Aug' WHEN 8 THEN 'Sep' WHEN 9 THEN 'Oct' WHEN 10 THEN 'Nov' ELSE 'Dec' END AS mon,
    cast(1 + e % 12 AS int) AS mon_num,
    cast(1 + e % 28 AS int) AS dd, cast(e % 24 AS int) AS hh, cast(e % 60 AS int) AS mi, cast((e * 7) % 60 AS int) AS ss,
    cast(e % 10 AS int) AS hostnum, cast(e % 6 AS int) AS prognum, cast(100 + e % 900 AS int) AS pid,
    CASE cast(e % 5 AS int) WHEN 0 THEN 'login' WHEN 1 THEN 'logout' WHEN 2 THEN 'read' WHEN 3 THEN 'write' ELSE 'exec' END AS action,
    cast(e % 5000 AS int) AS duration_ms, CASE WHEN e % 3 = 0 THEN 'false' ELSE 'true' END AS okflag,
    cast(10 + e % 4000 AS int) AS tokens, cast(e % 2500 AS int) AS latency_ms
  FROM t0
), transcripts_full AS (
  SELECT t1.*, cast(fac * 8 + sev AS int) AS pri,
    CASE variant
      WHEN 0 THEN concat('<', cast(fac * 8 + sev AS {STR}), '>', mon, ' ', lpad(cast(dd AS {STR}), 2, ' '), ' ',
                         lpad(cast(hh AS {STR}), 2, '0'), ':', lpad(cast(mi AS {STR}), 2, '0'), ':', lpad(cast(ss AS {STR}), 2, '0'),
                         ' host-', cast(hostnum AS {STR}), ' prog-', cast(prognum AS {STR}), '[', cast(pid AS {STR}), ']: action=',
                         action, ' status=', status)
      WHEN 1 THEN concat('event=tool_call tool=', coalesce(tool, 'none'), ' duration_ms=', cast(duration_ms AS {STR}), ' ok=', okflag)
      WHEN 2 THEN concat('{"event":"turn","role":"', role, '","tokens":', cast(tokens AS {STR}), ',"status":"', status, '"}')
      WHEN 3 THEN concat(conv_id, ',', cast(turn_idx AS {STR}), ',', role, ',', cast(latency_ms AS {STR}))
      ELSE concat('~~CORRUPT#', cast(e AS {STR}), '##')
    END AS text
  FROM t1
), transcripts AS (
  SELECT conv_id, turn_idx, role, text, tool, ts FROM transcripts_full
)"""

  def cte(dialect: String): String = {
    val strType = dialect match {
      case "duckdb" => "varchar"
      case _        => "string"
    }
    cteTemplate.replace("{STR}", strType)
  }

  /** Prefix a SELECT with the DuckDB-dialect derivation → a complete oracle
    * query for the driver's DuckDB compare. The SELECT may reference
    * `transcripts`, `transcripts_full`, or any base parquet table.
    */
  def oracle(select: String): String = cte("duckdb") + "\n" + select

  /** The `events` columns the derivation reads, as Spark infers them from
    * the generated parquet (naive timestamps load as `TIMESTAMP_NTZ`).
    * Declaring them skips the footer-inference job every read would run.
    */
  val eventsSchema: StructType =
    StructType.fromDDL("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT")

  private def registerEvents(spark: SparkSession, sfDir: String): Unit =
    spark.read.schema(eventsSchema).parquet(s"$sfDir/events.parquet")
      .createOrReplaceTempView("events")

  /** The 6-column transcript table (input_hint schema). Every CTE of the
    * derivation is read once, so the frame comes back inlined: frames built
    * on it do not re-analyze the `WITH` chain.
    */
  def load(spark: SparkSession, sfDir: String): DataFrame = {
    registerEvents(spark, sfDir)
    Bridge.inlineCtes(spark.sql(cte("spark") + "\nSELECT * FROM transcripts"))
  }

  /** Transcripts + generator ground truth (for internal tests only). */
  def loadFull(spark: SparkSession, sfDir: String): DataFrame = {
    registerEvents(spark, sfDir)
    Bridge.inlineCtes(spark.sql(cte("spark") + "\nSELECT * FROM transcripts_full"))
  }

  /** Run a Spark-dialect SQL SELECT over the derived CTEs. */
  def sql(spark: SparkSession, sfDir: String, select: String): DataFrame = {
    registerEvents(spark, sfDir)
    spark.sql(cte("spark") + "\n" + select)
  }
}
