package graft

import org.apache.spark.sql.functions._
import graft.transcripts.{Sft, Transcripts}

class TranscriptsSpec extends SparkSpec {

  test("schema matches input_hint") {
    val t = Transcripts.load(spark, sfUnit)
    assert(t.columns.toSeq == Seq("conv_id", "turn_idx", "role", "text", "tool", "ts"))
    val types = t.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
    assert(types("conv_id") == "string")
    assert(types("turn_idx") == "int")
    assert(types("ts") == "timestamp" || types("ts") == "timestamp_ntz")
  }

  test("declared events schema equals the inferred one on the columns it reads") {
    for (sf <- Seq(sfUnit, "/root/testdata/sf0.01")) {
      val inferred = spark.read.parquet(s"$sf/events.parquet")
        .select(Transcripts.eventsSchema.fieldNames.toSeq.map(col): _*).schema
      assert(inferred === Transcripts.eventsSchema, sf)
    }
  }

  test("deterministic: two loads are identical") {
    val a = Transcripts.load(spark, sfUnit).orderBy("conv_id", "turn_idx").collect()
    val b = Transcripts.load(spark, sfUnit).orderBy("conv_id", "turn_idx").collect()
    assert(a.sameElements(b))
  }

  test("turn_idx dense and unique per conversation") {
    val t = Transcripts.load(spark, sfUnit)
    val bad = t.groupBy("conv_id")
      .agg(count(lit(1)).as("n"), max(col("turn_idx")).as("mx"),
        countDistinct(col("turn_idx")).as("d"))
      .filter(col("d") =!= col("n") || col("mx") =!= col("n") - 1)
      .count()
    assert(bad == 0)
  }

  test("roles cycle and tool only on tool turns") {
    val t = Transcripts.load(spark, sfUnit)
    assert(t.filter(col("role") === "tool" && col("tool").isNull).count() == 0)
    assert(t.filter(col("role") =!= "tool" && col("tool").isNotNull).count() == 0)
    val roles = t.select("role").distinct().collect().map(_.getString(0)).toSet
    assert(roles == Set("user", "assistant", "system", "tool"))
  }

  test("sft pairs: ordered prior-turn context; maxContextTurns clips from the left") {
    import spark.implicits._
    val t = Seq(
      ("c1", 0, "user", "hi"),
      ("c1", 1, "assistant", "hello"),
      ("c1", 2, "user", "how are you"),
      ("c1", 3, "assistant", "fine"),
      ("c2", 0, "assistant", "opener") // no prior context at all
    ).toDF("conv_id", "turn_idx", "role", "text")
    val p = Sft.pairs(t).as[(String, Int, String, String, Long)]
      .collect().map(r => (r._1, r._2) -> r).toMap
    assert(p(("c1", 1)) === (("c1", 1, "user: hi", "hello", 1L)))
    assert(p(("c1", 3)) ===
      (("c1", 3, "user: hi\nassistant: hello\nuser: how are you", "fine", 3L)))
    assert(p(("c2", 0)) === (("c2", 0, "", "opener", 0L)))
    assert(p.size === 3, "one sample per assistant turn, nothing else")

    val clipped = Sft.pairs(t, maxContextTurns = 1)
      .as[(String, Int, String, String, Long)]
      .collect().map(r => (r._1, r._2) -> r).toMap
    assert(clipped(("c1", 3)) === (("c1", 3, "user: how are you", "fine", 1L)),
      "clip keeps the MOST RECENT k turns")
    val none = Sft.pairs(t, maxContextTurns = 0)
      .as[(String, Int, String, String, Long)].collect()
    assert(none.forall(r => r._3 == "" && r._5 == 0L))
  }

  test("loss-masked sequence: hand-computed spans; spans slice back to the assistant text") {
    import spark.implicits._
    val t = Seq(
      ("c1", 0, "user", "hi"),
      ("c1", 1, "assistant", "hello"),
      ("c1", 2, "user", "how are you"),
      ("c1", 3, "assistant", "fine"),
      ("c2", 0, "assistant", "opener")
    ).toDF("conv_id", "turn_idx", "role", "text")
    val got = Sft.lossMaskedSequence(t)
      .as[(String, String, String, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    // c1: "user: hi\nassistant: hello\nuser: how are you\nassistant: fine"
    //  hello at [20,25), fine at [55,59)
    assert(got("c1") === (("c1",
      "user: hi\nassistant: hello\nuser: how are you\nassistant: fine",
      "20:25,55:59", 9L, 4L)))
    assert(got("c2") === (("c2", "assistant: opener", "11:17", 6L, 1L)))
    // reconstruction property: every span slices exactly an assistant text
    val assistants = Set("hello", "fine", "opener")
    got.values.foreach { case (_, text, spans, _, _) =>
      spans.split(",").filter(_.nonEmpty).foreach { sp =>
        val Array(s, e) = sp.split(":").map(_.toInt)
        assert(assistants.contains(text.substring(s, e)), s"span $sp in $text")
      }
    }
  }

  test("conversation stats gate degenerate conversations") {
    import spark.implicits._
    def ts(m: Int) = new java.sql.Timestamp(86400000L + m * 60000L)
    val t = Seq(
      ("good", 0, "user", "a sufficiently long opening turn", null, ts(0)),
      ("good", 1, "assistant", "a sufficiently long reply here", null, ts(1)),
      ("good", 2, "user", "another decent follow-up message", null, ts(2)),
      ("good", 3, "assistant", "and a closing answer of length", null, ts(5)),
      ("short", 0, "user", "only two turns in this conversation", null, ts(0)),
      ("short", 1, "assistant", "so the min-turn gate rejects it", null, ts(1)),
      ("noassist", 0, "user", "four turns but never an assistant", null, ts(0)),
      ("noassist", 1, "user", "just the user talking to the void", null, ts(1)),
      ("noassist", 2, "user", "and more of the same user text", null, ts(2)),
      ("noassist", 3, "user", "still nobody answering anything", null, ts(3))
    ).toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val s = Sft.conversationStats(t)
      .select(col("conv_id"), col("n_turns"), col("assistant_frac"),
        col("span_seconds"), col("pass"))
      .as[(String, Long, Double, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(s("good")._5 && s("good")._2 === 4L && s("good")._4 === 300L)
    assert(!s("short")._5, "min-turn gate")
    assert(!s("noassist")._5 && s("noassist")._3 === 0.0, "assistant-fraction gate")
  }
}
