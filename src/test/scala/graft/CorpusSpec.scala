package graft

import org.apache.spark.sql.functions._

import graft.corpus.{Dedup, Multimodal, Similarity, TextStats}

/** Training-data corpus operators: dedup family, similarity search, text
  * stats, multimodal plumbing.
  */
class CorpusSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs =
    spark.read.parquet(s"$sfUnit/documents.parquet").cache()
  private lazy val embs =
    spark.read.parquet(s"$sfUnit/embeddings.parquet").cache()

  test("shingles: k-grams, distinct, short-doc guard") {
    val d = Seq((1L, "a b c d"), (2L, "a b"), (3L, "x x x x x")).toDF("doc_id", "text")
    val got = d.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("s"))
      .as[(Long, Seq[String])].collect().toMap
    assert(got(1L).sorted === Seq("a b c", "b c d"))
    assert(got(2L) === Seq.empty) // fewer than k words
    assert(got(3L) === Seq("x x x")) // distinct
  }

  test("exact dedup groups identical normalized text") {
    val d = Seq((1L, "Hello World"), (2L, "hello world  "), (3L, "other"))
      .toDF("doc_id", "text")
    val got = Dedup.exact(d, col("doc_id"), col("text"))
      .select("keep_id", "n_copies").as[(Long, Long)].collect().sorted
    assert(got === Seq((1L, 2L), (3L, 1L)))
  }

  test("minhash-LSH pairs == exact n-gram jaccard pairs on the corpus (full recall)") {
    val lsh = Dedup.minhashLsh(docs, col("doc_id"), col("text"))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val exact = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(lsh === exact)
    assert(exact.nonEmpty) // the corpus plants near-dup pairs
  }

  test("simhash: near-dup pairs have closer hamming than random pairs") {
    val sig = Dedup.simhash(docs, col("doc_id"), col("text"))
    assert(sig.count() === docs.count())
    val pairs = Dedup.simhashPairs(docs, col("doc_id"), col("text"))
      .select("hamming").as[Int].collect()
    assert(pairs.forall(_ <= 3))
  }

  test("simhash 64-bit: signature length 64; banded pairs == brute-force hamming<=3 (pigeonhole)") {
    val sig64 = Dedup.simhash(docs, col("doc_id"), col("text"), bits = 64)
    assert(sig64.select(length(col("simhash"))).as[Int].collect().forall(_ === 64))
    // 32-bit prefix of the 64-bit signature must equal the 32-bit signature
    // (second md5 only appends bits, never perturbs the first 32)
    val sig32 = Dedup.simhash(docs, col("doc_id"), col("text"), bits = 32)
      .withColumnRenamed("simhash", "s32")
    assert(sig64.join(sig32, "doc_id")
      .filter(substring(col("simhash"), 1, 32) =!= col("s32")).count() === 0)
    // pigeonhole: banded candidate pass loses nothing vs all-pairs at d<=3
    val banded = Dedup.simhashPairs(docs, col("doc_id"), col("text"),
      bits = 64, bands = 4, maxHamming = 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val a = sig64.select(col("doc_id").as("doc_a"), col("simhash").as("sa"))
    val b = sig64.select(col("doc_id").as("doc_b"), col("simhash").as("sb"))
    val brute = a.crossJoin(b).filter(col("doc_a") < col("doc_b"))
      .filter(Dedup.hamming(col("sa"), col("sb"), 64) <= 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(banded === brute)
  }

  test("cosine top-k: ranks are 1..k per query, best neighbor is a planted near-dup or self-cluster") {
    val got = Similarity.cosineTopK(
      embs, col("vec_id"), col("embedding"),
      embs.filter(col("vec_id") < 3), col("vec_id"), col("embedding"), k = 4)
      .as[(Long, Int, Long, Double)].collect()
    val byQuery = got.groupBy(_._1)
    assert(byQuery.keySet === Set(0L, 1L, 2L))
    byQuery.values.foreach { rows =>
      assert(rows.map(_._2).sorted === Seq(1, 2, 3, 4))
      val scores = rows.sortBy(_._2).map(_._4)
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b }) // descending
      assert(rows.forall(r => r._3 != r._1)) // self excluded
    }
  }

  test("IVF top-k ⊆ same-cluster brute force; scores match brute force on same-label hits") {
    val ivf = Similarity.ivfTopK(
      embs, col("vec_id"), col("embedding"), col("label"),
      embs.filter(col("vec_id") < 3), col("vec_id"), col("embedding"), col("label"), k = 2)
      .as[(Long, Int, Long, Double)].collect()
    val labels = embs.select("vec_id", "label").as[(Long, Int)].collect().toMap
    ivf.foreach { case (q, _, n, _) => assert(labels(q) === labels(n)) }
  }

  test("hyperplane LSH near-dup pairs == exact brute-force pairs; plan has no cartesian product") {
    val lsh = Similarity.hyperplaneNearDupPairs(
      embs, col("vec_id"), col("embedding"), threshold = 0.4)
    val exact = Similarity.bruteForceNearDupPairs(
      embs, col("vec_id"), col("embedding"), threshold = 0.4)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(lsh.select("vec_a", "vec_b").as[(Long, Long)].collect().toSet === exact)
    assert(exact.nonEmpty)
    val plan = lsh.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"), plan.take(500))
  }

  test("k-means: deterministic, uses multiple clusters, centroids unit-norm") {
    val c1 = Similarity.kmeans(embs, col("vec_id"), col("embedding"), k = 8)
    val c2 = Similarity.kmeans(embs, col("vec_id"), col("embedding"), k = 8)
    assert(c1.map(_.toSeq).toSeq === c2.map(_.toSeq).toSeq) // rerun-identical
    c1.foreach(c => assert(math.abs(c.map(x => x * x).sum - 1.0) < 1e-9))
    val nUsed = embs.select(
      Similarity.assignCluster(Similarity.normalize(col("embedding")), c1).as("c"))
      .distinct().count()
    assert(nUsed > 1)
  }

  test("trained IVF nprobe=1: subset of brute force, useful recall, join plan") {
    val bf = Similarity.cosineTopK(
      embs, col("vec_id"), col("embedding"),
      embs.filter(col("vec_id") < 10), col("vec_id"), col("embedding"), k = 3)
      .as[(Long, Int, Long, Double)].collect()
    val ivf = Similarity.ivfTopKTrained(
      embs, col("vec_id"), col("embedding"),
      embs.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
      k = 3, kClusters = 8, nprobe = 1)
    val got = ivf.as[(Long, Int, Long, Double)].collect()
    val bfSet = bf.map(r => (r._1, r._3)).toSet
    val hit = got.count(r => bfSet.contains((r._1, r._3)))
    assert(hit.toDouble / bf.length >= 0.3, s"recall@3 $hit/${bf.length}") // 1-probe floor
    val plan = ivf.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(500))
    // nprobe = kClusters degenerates to exact brute force
    val full = Similarity.ivfTopKTrained(
      embs, col("vec_id"), col("embedding"),
      embs.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
      k = 3, kClusters = 8, nprobe = 8)
      .as[(Long, Int, Long, Double)].collect()
    assert(full.map(r => (r._1, r._2, r._3)).sorted === bf.map(r => (r._1, r._2, r._3)).sorted)
  }

  test("resolveClusters: transitive closure, min-id survivor, singletons kept") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("doc_a", "doc_b")
    val universe = (1L to 10L).toDF("member_id")
    val got = Dedup.resolveClusters(universe, pairs, "doc_a", "doc_b")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(got(1L) === 1L && got(2L) === 1L && got(3L) === 1L) // chain closed
    assert(got(7L) === 7L && got(9L) === 7L)
    assert((4L to 6L).forall(i => got(i) === i)) // singletons
    assert(got(10L) === 10L)
  }

  test("resolveClusters: long chain converges (diameter > 1 round)") {
    val pairs = (1L until 12L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val universe = (1L to 12L).toDF("member_id")
    val got = Dedup.resolveClusters(universe, pairs, "doc_a", "doc_b")
      .as[(Long, Long, Long)].collect()
    assert(got.forall(_._2 === 1L)) // one component, labeled by min id
  }

  test("vec_dot: sequential fold semantics in both codegen and interpreted eval") {
    val df = Seq(
      (1, Seq(1.0f, 2.0f, 3.0f), Seq(4.0, 5.0, 6.0)),   // 32.0
      (2, Seq(1.0f, 2.0f), Seq(1.0, 2.0, 3.0)),          // length mismatch -> null
      (3, null, Seq(1.0, 2.0, 3.0))                      // null array -> null
    ).toDF("id", "a", "b")
    val got = df.select(col("id"),
      graft.functions.GraftFunctions.vec_dot(col("a"), col("b")).as("d"))
      .collect().map(r => r.getInt(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(got === Map(1 -> 32.0, 2 -> null, 3 -> null))
    // null ELEMENT poisons the fold, like zip_with+aggregate would
    val withNullElem = Seq((1, Seq[java.lang.Double](1.0, null, 3.0), Seq(1.0, 1.0, 1.0)))
      .toDF("id", "a", "b")
      .select(graft.functions.GraftFunctions.vec_dot(col("a"), col("b")).as("d"))
    assert(withNullElem.collect()(0).isNullAt(0))
    // identical doubles to the HOF formulation (same fold order)
    val hof = embs.select(
      aggregate(zip_with(col("embedding"), col("embedding"),
        (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (acc, x) => acc + x).as("h"),
      graft.functions.GraftFunctions.vec_dot(col("embedding"), col("embedding")).as("v"))
    assert(hof.filter(col("h") =!= col("v")).count() === 0)
  }

  test("text stats: ranges and determinism") {
    val got = docs.select(col("doc_id"),
      TextStats.wsTokenCount(col("text")).as("n"),
      TextStats.bpeTokenEstimate(col("text")).as("b"),
      TextStats.stopwordRatio(col("text")).as("sr"),
      TextStats.qualityScore(col("text")).as("q"),
      TextStats.isEnglish(col("text")).as("e"))
      .as[(Long, Int, Int, Double, Double, Boolean)].collect()
    assert(got.forall(r => r._2 > 0 && r._3 >= r._2 * 0)) // sane counts
    assert(got.forall(r => r._4 >= 0.0 && r._4 <= 1.0))
    assert(got.forall(r => r._5 >= 0.0 && r._5 <= 1.0))
    // fingerprint: equal for identical text, 32-hex shaped
    val fps = docs.select(TextStats.fingerprint(col("text"))).as[String].collect()
    assert(fps.forall(_.matches("[0-9a-f]{32}")))
  }

  test("incremental dedup: increment(B over index(A)) ≡ batch(A∪B); " +
      "a shard doc can bridge two old clusters; index save/load roundtrips") {
    // hand fixture: docs 1 and 3 share (almost) nothing; shard doc 12
    // overlaps BOTH above threshold — the increment must merge the two
    // previously-separate singletons exactly like a batch run (shard ids
    // sit above the index watermark, per the enforced monotone contract)
    val a = Seq(
      (1L, "a b c d e f g h"),
      (3L, "f g h i j k l m"),
      (10L, "unique text piece one two")).toDF("doc_id", "text")
    val b = Seq(
      (12L, "a b c d e f g h i j k l m"),
      (11L, "unique text piece one two")).toDF("doc_id", "text")
    val idx = Dedup.buildIndex(a, col("doc_id"), col("text"))
    assert(idx.assign.filter(col("member_id") === col("keep_id")).count() === 3)
    val (assign, idx2) = Dedup.dedupIncrement(b, col("doc_id"), col("text"), idx)
    def survivors(as: org.apache.spark.sql.DataFrame): Seq[Long] =
      as.filter(col("member_id") === col("keep_id"))
        .select("member_id").as[Long].collect().sorted.toSeq
    val batch = Dedup.dedupCorpus(a.unionByName(b), col("doc_id"), col("text"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(survivors(assign) === batch)
    assert(!survivors(assign).contains(11L)) // exact dup of 10 dropped
    assert(survivors(assign) === Seq(1L, 10L)) // bridge: {1,2,3} collapsed to 1
    // save/load roundtrip, then a third shard over the RELOADED index
    val dir = java.nio.file.Files.createTempDirectory("graft-idx").toString
    idx2.save(dir)
    val idx3 = Dedup.DedupIndex.load(spark, dir)
    val c = Seq((20L, "a b c d e f g h")).toDF("doc_id", "text") // exact dup of 1
    val (assign3, _) = Dedup.dedupIncrement(c, col("doc_id"), col("text"), idx3)
    val batch3 = Dedup.dedupCorpus(a.unionByName(b).unionByName(c),
      col("doc_id"), col("text")).select("doc_id").as[Long].collect().sorted.toSeq
    assert(survivors(assign3) === batch3)
    // and over the real corpus fixture split in half (low ids indexed,
    // high ids as the shard — the monotone contract's split)
    val cut = docs.agg(max(col("doc_id"))).as[Long].head() / 2
    val aD = docs.filter(col("doc_id") <= cut)
    val bD = docs.filter(col("doc_id") > cut)
    val (assignD, _) = Dedup.dedupIncrement(bD, col("doc_id"), col("text"),
      Dedup.buildIndex(aD, col("doc_id"), col("text")))
    val batchD = Dedup.dedupCorpus(docs, col("doc_id"), col("text"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(survivors(assignD) === batchD)
  }

  test("incremental contracts are ENFORCED: an out-of-order shard id raises, " +
      "naming the contract") {
    import graft.corpus.Curate
    val a = Seq((10L, "some text one"), (20L, "some text two")).toDF("doc_id", "text")
    val idx = Dedup.buildIndex(a, col("doc_id"), col("text"))
    val bad = Seq((15L, "a late arrival below the watermark")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.dedupIncrement(bad, col("doc_id"), col("text"), idx)
    }
    assert(e.getMessage.contains("monotone-id contract"))
    assert(e.getMessage.contains("15") && e.getMessage.contains("20"))

    // a conforming shard advances the watermark: the NEXT violation is
    // judged against the new max
    val (_, idx2) = Dedup.dedupIncrement(
      Seq((30L, "fresh text")).toDF("doc_id", "text"), col("doc_id"), col("text"), idx)
    val e2 = intercept[IllegalArgumentException] {
      Dedup.dedupIncrement(
        Seq((25L, "stale")).toDF("doc_id", "text"), col("doc_id"), col("text"), idx2)
    }
    assert(e2.getMessage.contains("30"))

    // same guard on the curation index (corpus-wide watermark, not just
    // URL keepers)
    val c = Seq((10L, "text body", "https://x.example/1", "en"))
      .toDF("doc_id", "text", "url", "lang")
    val cidx = Curate.buildIndex(c, col("doc_id"), col("text"), col("url"), col("lang"))
    val e3 = intercept[IllegalArgumentException] {
      Curate.curateIncrement(
        Seq((5L, "old id", "https://x.example/2", "en"))
          .toDF("doc_id", "text", "url", "lang"),
        col("doc_id"), col("text"), col("url"), col("lang"), cidx)
    }
    assert(e3.getMessage.contains("monotone-id contract"))
  }

  test("contamination: shingle-overlap hits against a benchmark set; decontaminate drops them") {
    import graft.corpus.Sampling
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely unrelated text with different words entirely here now"),
      (3L, "quick brown fox jumps over the lazy dog tonight indeed")).toDF("doc_id", "text")
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("bid", "btext")
    val hits = Sampling.contamination(corpus, col("doc_id"), col("text"),
      bench, col("bid"), col("btext"), shingleK = 8, minHits = 1)
      .select("doc_id", "bench_id", "n_shared").as[(Long, Long, Long)]
      .collect().sortBy(_._1).toSeq
    // doc1 contains the full benchmark 8-gram twice-shifted; doc2 none;
    // doc3 shares the shifted window "quick brown ... dog" only
    assert(hits.map(_._1) === Seq(1L, 3L))
    assert(hits.forall(_._2 === 100L))
    assert(hits(0)._3 >= 2L && hits(1)._3 >= 1L)
    // decontaminate = anti-join on flagged ids
    val clean = corpus.join(hits.map(_._1).toDF("doc_id"), Seq("doc_id"), "left_anti")
    assert(clean.select("doc_id").as[Long].collect().toSeq === Seq(2L))
  }

  test("packByBudget: per-shard cumsum packing, bounded overrun, deterministic") {
    import graft.corpus.Sampling
    val d = Seq((0L, 300L), (1L, 300L), (2L, 300L), (3L, 300L), (4L, 700L), (5L, 100L))
      .toDF("doc_id", "n_tokens")
    val packed = Sampling.packByBudget(d, shard = lit(0), size = col("n_tokens"),
      order = col("doc_id"), budget = 512L)
      .select("doc_id", "pack_id", "pack_pos").as[(Long, Long, Int)]
      .collect().sortBy(_._1).toSeq
    // cumsums: 300,600,900,1200,1900,2000 → pack = (cum-size)/512 =
    // 0,0,1,1,2,3 — each pack starts below the budget, overrun < one doc
    assert(packed.map(_._2) === Seq(0L, 0L, 1L, 1L, 2L, 3L))
    assert(packed.map(_._3) === Seq(1, 2, 1, 2, 1, 1))
    // packs never cross shards
    val sharded = Sampling.packByBudget(d, shard = pmod(col("doc_id"), lit(2)),
      size = col("n_tokens"), order = col("doc_id"), budget = 512L)
    val crossing = sharded.groupBy("shard", "pack_id")
      .agg(countDistinct("shard").as("n")).filter(col("n") > 1).count()
    assert(crossing === 0L)
    // a doc above the budget still lands in exactly one pack
    assert(packed.count(_._1 == 4L) === 1)
  }

  test("multi-class language ID: marker argmax + script ranges + unknown floor") {
    val rows = Seq(
      ("en", "the cat and the dog went to the park with you"),
      ("de", "der Hund ist nicht mit der Katze und ich das für"),
      ("fr", "le chat est dans la maison et les gens que je vous"),
      ("es", "el gato es para los que no se con una por"),
      ("it", "il gatto che di per non sono della anche come"),
      ("ru", "это русский текст для проверки"),
      ("zh", "这是一个中文测试文本"),
      ("ja", "これはにほんごのテストです"),
      ("ko", "이것은 한국어 테스트 텍스트입니다"),
      ("ar", "هذا نص اختبار باللغة العربية"),
      ("unknown", "zxqv wklm brrt 12345"),
      ("unknown", ""))
      .toDF("want", "text")
    val got = rows.select(col("want"),
      graft.corpus.TextStats.langId(col("text")).as("got")).collect()
    got.foreach(r => assert(r.getString(1) === r.getString(0),
      s"langId mismatch for planted ${r.getString(0)}"))
    // kana outranks Han: mixed Japanese (kanji + kana) still reads ja
    val mixed = Seq(("x", "日本語のテキストです漢字も含む")).toDF("k", "text")
    assert(mixed.select(graft.corpus.TextStats.langId(col("text")))
      .as[String].head() === "ja")
  }

  test("multimodal: hand-built header byte literals decode (PNG IHDR / JPEG SOF / GIF LSD)") {
    // minimal PNG: signature + IHDR length/type + 640x480 big-endian
    val png = Array[Int](0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a,
      0, 0, 0, 13, 'I', 'H', 'D', 'R',
      0, 0, 0x02, 0x80, /* w=640 */ 0, 0, 0x01, 0xe0 /* h=480 */).map(_.toByte)
    assert(Multimodal.decodeMeta(png) === (("png", 640, 480, png.length.toLong)))
    // JPEG: SOI, APP0 (skipped), SOF0 with h=0x0010=16, w=0x0020=32
    val jpg = Array[Int](0xff, 0xd8,
      0xff, 0xe0, 0x00, 0x04, 0x00, 0x00, // APP0, len 4
      0xff, 0xc0, 0x00, 0x0b, 0x08, 0x00, 0x10, 0x00, 0x20, 0x01, 0x00)
      .map(_.toByte)
    assert(Multimodal.decodeMeta(jpg) === (("jpeg", 32, 16, jpg.length.toLong)))
    // GIF89a with little-endian 300x200
    val gif = ("GIF89a".getBytes("US-ASCII") ++
      Array[Int](0x2c, 0x01, 0xc8, 0x00).map(_.toByte))
    assert(Multimodal.decodeMeta(gif) === (("gif", 300, 200, gif.length.toLong)))
    assert(Multimodal.decodeMeta("not an image".getBytes)._1 === "unknown")
  }

  test("multimodal: real image payloads round-trip header decode; resize is a real raster scale") {
    val d = Multimodal.decode(Multimodal.withPayload(docs, "text"))
    assert(d.schema("meta").dataType === Multimodal.MetaSchema)
    // decoded metadata == the generator's ground-truth geometry
    val got = d.select(col("text"), col("meta.format"), col("meta.width"),
      col("meta.height"), col("meta.n_bytes"), length(col("payload")).cast("long"))
      .collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (fmt, w, h) = Multimodal.geometryOf(r.getString(0))
      assert(r.getString(1) === fmt && r.getInt(2) === w && r.getInt(3) === h)
      assert(r.getLong(4) === r.getLong(5)) // meta tracks payload bytes
    }
    // resize: the RE-ENCODED payload really has the bounded target geometry
    val r = Multimodal.resize(d, maxSide = 24)
    val re = Multimodal.decode(r.drop("meta"))
      .select(col("text"), col("meta.format"), col("meta.width"), col("meta.height"))
      .collect()
    re.foreach { row =>
      val (fmt, w, h) = Multimodal.geometryOf(row.getString(0))
      val (nw, nh) = Multimodal.targetGeometry(w, h, 24)
      assert(row.getString(1) === fmt && row.getInt(2) === nw && row.getInt(3) === nh)
      assert(math.max(nw, nh) <= 24)
    }
  }

  test("multimodal: frame-sample walks an animated GIF with the JDK reader") {
    val gif = Multimodal.encodeAnimatedGif(20, 14, nFrames = 6, seed = 7)
    val df = Seq((1L, gif), (2L, Multimodal.encodeImage("png", 10, 10, 1)))
      .toDF("doc_id", "payload")
    val f = Multimodal.frameSample(df, everyNth = 2)
    val byDoc = f.select(col("doc_id"), col("frame_idx")).as[(Long, Int)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(byDoc(1L) === Seq(0, 2, 4)) // 6 frames, every 2nd
    assert(byDoc(2L) === Seq(0)) // single-frame image: one frame
    // each emitted frame is a real PNG of the source geometry
    val frame0 = f.where(col("doc_id") === 1L && col("frame_idx") === 0)
      .select("frame").as[Array[Byte]].head()
    assert(Multimodal.decodeMeta(frame0) === (("png", 20, 14, frame0.length.toLong)))
  }

  test("multimodal: features is a real grayscale histogram over the raster") {
    val f = Multimodal.features(Multimodal.withPayload(docs, "text"), dim = 8)
    val vs = f.select("features").as[Seq[Float]].collect()
    assert(vs.forall(_.length === 8))
    vs.foreach { v => assert(math.abs(v.sum - 1f) < 1e-3) } // normalized
    // the seeded gradient spans gray levels: histograms aren't degenerate
    assert(vs.exists(_.count(_ > 0f) > 1))
  }

  test("repetition stats: hand-computed Gopher signals, one-pass expression") {
    import graft.corpus.TextStats
    def repOf(text: String): Map[String, Double] = {
      val df = spark.range(1).select(TextStats.repetition(lit(text)).as("r"))
      val row = df.select(col("r.*")).collect()(0)
      graft.functions.RepetitionStats.fieldNames.zipWithIndex
        .map { case (f, i) => f -> row.getDouble(i) }.toMap
    }
    // lines: [w1 w2, w1 w2, "", w1 w2] -> 4 lines, 2 distinct; chars 15, 10 dup
    // paras: [w1 w2\nw1 w2, w1 w2] -> no dup
    // words: w1 w2 w1 w2 w1 w2; text chars 18
    // 2-grams: "w1 w2"x3 (len 5) -> 15/18; 3-grams tie 2/2 -> smallest
    // "w1 w2 w1" (len 8) -> 16/18; 4-grams "w1 w2 w1 w2"x2 (len 11) -> 22/18
    // (overlapping occurrences CAN push the top fraction past 1 — unclamped,
    // like the published rule family); 5+ grams all unique -> 0
    val r1 = repOf("w1 w2\nw1 w2\n\nw1 w2")
    assert(r1("dup_line_frac") === 0.5)
    assert(r1("dup_line_char_frac") === 10.0 / 15.0)
    assert(r1("dup_para_frac") === 0.0)
    assert(r1("dup_para_char_frac") === 0.0)
    assert(r1("top_2gram_char_frac") === 15.0 / 18.0)
    assert(r1("top_3gram_char_frac") === 16.0 / 18.0)
    assert(r1("top_4gram_char_frac") === 22.0 / 18.0)
    assert((5 to 10).forall(n => r1(s"dup_${n}gram_char_frac") === 0.0))
    // planted duplicated 5-gram: covered word positions {0..5, 7..12} =
    // 12 of 13 one-char words; text chars 25
    val r2 = repOf("a b c d e f g a b c d e f")
    assert(r2("dup_5gram_char_frac") === 12.0 / 25.0)
    assert(r2("dup_6gram_char_frac") === 12.0 / 25.0) // abcdef/bcdefx2? no:
    // 6-grams: abcdef(0), bcdefg, cdefga, defgab, efgabc, fgabcd, gabcde,
    // abcdef(7) -> "a b c d e f" twice, covers 0..5 and 7..12 = same 12
    assert(r2("dup_line_frac") === 0.0)
    // null / empty -> all-zero rows, never nulls
    val rNull = spark.range(1)
      .select(TextStats.repetition(lit(null).cast("string")).as("r"))
      .select(col("r.*")).collect()(0)
    (0 until 13).foreach(i => assert(rNull.getDouble(i) === 0.0))
    assert(repOf("").values.forall(_ === 0.0))
  }

  test("url canonicalize: case, ports, www, fragments, tracking, sort, slashes") {
    import graft.corpus.Url
    def canon(u: String): String =
      spark.range(1).select(Url.canonicalize(lit(u))).collect()(0).getString(0)
    assert(canon("HTTPS://WWW.Example.COM:443/Path/?utm_source=x&b=2&a=1#frag")
      === "https://example.com/Path?a=1&b=2")
    assert(canon("http://example.com:80/a//") === "http://example.com/a")
    assert(canon("http://example.com/") === "http://example.com")
    // path case is significant; a non-default port survives
    assert(canon("https://Example.com:8443/CaseY") === "https://example.com:8443/CaseY")
    // only tracking params are dropped; empty query collapses entirely
    assert(canon("https://e.com/p?utm_campaign=z&fbclid=1&gclid=2&ref=3")
      === "https://e.com/p")
    // non-URL strings pass through untouched
    assert(canon("not a url") === "not a url")
    val dup = Seq(
      (1L, "https://www.a.com/x?b=2&a=1"),
      (2L, "HTTPS://A.COM:443/x?a=1&b=2#top"),
      (3L, "https://a.com/y"))
      .toDF("doc_id", "url")
    val got = Url.urlDedup(dup, col("doc_id"), col("url"))
      .select("doc_id", "is_keeper").as[(Long, Boolean)].collect().toMap
    assert(got === Map(1L -> true, 2L -> false, 3L -> true))
  }

  test("splitLabel: cluster members share a split; fractions near weights") {
    import graft.corpus.Sampling
    val splits = Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1)
    // members of one cluster ALWAYS land together (split keys on cluster id)
    val clustered = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 4L))
      .toDF("member_id", "cluster_id")
      .withColumn("split", Sampling.splitLabel(col("cluster_id"), splits))
    val byCluster = clustered.groupBy("cluster_id")
      .agg(countDistinct("split").as("n")).as[(Long, Long)].collect().toMap
    assert(byCluster.values.forall(_ === 1L))
    // proportions over many keys approach the weights
    val counts = spark.range(10000)
      .select(Sampling.splitLabel(col("id"), splits).as("s"))
      .groupBy("s").count().as[(String, Long)].collect().toMap
    assert(math.abs(counts("train") / 10000.0 - 0.8) < 0.02)
    assert(math.abs(counts("valid") / 10000.0 - 0.1) < 0.02)
    assert(math.abs(counts("test") / 10000.0 - 0.1) < 0.02)
    // deterministic across evaluations
    val again = spark.range(10000)
      .select(Sampling.splitLabel(col("id"), splits).as("s"))
      .groupBy("s").count().as[(String, Long)].collect().toMap
    assert(again === counts)
  }

  test("dsir: importance weights separate target-like docs; gumbel top-k deterministic") {
    import graft.corpus.Dsir
    // controlled: target speaks 'aa', source is mixed -> 'aa' docs weigh more
    val tgt = Seq("aa aa aa aa").toDF("text")
    val src = Seq((1L, "aa aa aa"), (2L, "bb bb bb")).toDF("doc_id", "text")
    val lw = Dsir.logWeights(src, col("doc_id"), col("text"),
      Dsir.fitBuckets(tgt, col("text"), 64),
      Dsir.fitBuckets(src, col("text"), 64), buckets = 64)
      .select("doc_id", "log_weight").as[(Long, Double)].collect().toMap
    assert(lw(1L) > lw(2L))
    // fixture: resampling toward the en slice over-selects en docs
    val sel = Dsir.select(docs, col("doc_id"), col("text"),
      docs.filter(col("lang") === "en"), col("text"), k = 100, buckets = 512)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
    assert(sel.filter(col("selected")).count() === 100L)
    val enSelected = sel.filter(col("selected") && col("lang") === "en").count()
    val enBase = docs.filter(col("lang") === "en").count().toDouble / docs.count()
    assert(enSelected.toDouble / 100.0 > enBase) // 43.6% baseline must be beaten
    // deterministic: same inputs, same selection set
    val again = Dsir.select(docs, col("doc_id"), col("text"),
      docs.filter(col("lang") === "en"), col("text"), k = 100, buckets = 512)
      .filter(col("selected")).select("doc_id").as[Long].collect().toSet
    assert(again === sel.filter(col("selected")).select("doc_id").as[Long].collect().toSet)
  }

  test("char-trigram LM: hand-computed smoothed entropy; en-trained model prefers en") {
    import graft.corpus.LanguageModel
    val train = Seq("abab").toDF("text")
    val model = LanguageModel.charNgramCounts(train, col("text"), 3)
    assert(model.as[(String, Long)].collect().toMap === Map("aba" -> 1L, "bab" -> 1L))
    val scored = LanguageModel.crossEntropy(
      Seq((1L, "aba"), (2L, "zzz")).toDF("doc_id", "text"),
      col("doc_id"), col("text"), model, 3)
      .select("doc_id", "cross_entropy").as[(Long, Double)].collect().toMap
    // "aba": seen gram, ctx "ab" has count 1, V = |{a,b}| = 2
    assert(math.abs(scored(1L) - -math.log(1.1 / 1.2) / math.log(2)) < 1e-12)
    // "zzz": unseen gram AND ctx -> alpha/(alpha*V) = 0.5 -> exactly 1 bit
    assert(math.abs(scored(2L) - 1.0) < 1e-12)
    // fixture semantics: perplexity gate separates languages
    val m = LanguageModel.charNgramCounts(
      docs.filter(col("lang") === "en"), col("text"), 3)
    val byLang = LanguageModel.crossEntropy(docs, col("doc_id"), col("text"), m, 3)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .groupBy("lang").agg(avg("cross_entropy").as("h"))
      .as[(String, Double)].collect().toMap
    assert(byLang("en") < byLang("zh"))
    assert(byLang("en") < byLang("de"))
  }

  test("exactSubstrDedup: keep-first, within-doc repeats, sliding windows") {
    import graft.corpus.SpanDedup
    val d = Seq(
      (1L, "a b c d e"), // holds the globally-first "a b c"
      (2L, "x a b c y"), // loses its copy -> "x y"
      (3L, "p q r p q r p q"), // within-doc repeats: keeps first period only
      (4L, "u v w")) // unique, untouched
      .toDF("doc_id", "text")
    val got = SpanDedup.exactSubstrDedup(d, col("doc_id"), col("text"), windowWords = 3)
      .select("doc_id", "text_clean", "n_removed")
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(got(0) === ((1L, "a b c d e", 0L)))
    assert(got(1) === ((2L, "x y", 3L)))
    // windows at pos 3..5 repeat pos 0..2 -> positions 3..7 removed
    assert(got(2) === ((3L, "p q r", 5L)))
    assert(got(3) === ((4L, "u v w", 0L)))
    // doc shorter than the window emits no postings and survives whole
    val short = SpanDedup.exactSubstrDedup(
      Seq((9L, "a b")).toDF("doc_id", "text"), col("doc_id"), col("text"), 3)
      .select("text_clean", "n_removed").as[(String, Long)].collect()(0)
    assert(short === (("a b", 0L)))
  }

  test("semDedup k=1 (one cluster = exhaustive) equals brute-force dedup") {
    val survivors = Similarity.semDedup(
      embs, col("vec_id"), col("embedding"), kClusters = 1, threshold = 0.3)
      .select("vec_id").as[Long].collect().toSet
    val bfPairs = Similarity.bruteForceNearDupPairs(
      embs, col("vec_id"), col("embedding"), threshold = 0.3)
    val bfSurvivors = Dedup.resolveClusters(
      embs.select(col("vec_id").as("member_id")), bfPairs, "vec_a", "vec_b")
      .filter(col("member_id") === col("keep_id"))
      .select("member_id").as[Long].collect().toSet
    assert(survivors === bfSurvivors)
    assert(survivors.size < embs.count()) // something was actually dropped
  }

  test("semDedup trained quantizer drops planted exact copies, keeps originals") {
    // identical vectors always share a cluster (argmax of the same dots),
    // so planted copies are guaranteed recall regardless of quantizer fit
    val base = embs.filter(col("vec_id") < 400)
    val copies = embs.filter(col("vec_id") < 10)
      .select((col("vec_id") + 1000).as("vec_id"), col("embedding"), col("label"))
    val survivors = Similarity.semDedup(
      base.unionByName(copies), col("vec_id"), col("embedding"),
      kClusters = 8, threshold = 0.999)
      .select("vec_id").as[Long].collect().toSet
    assert((0L until 10L).forall(survivors.contains)) // originals kept (min id)
    assert((1000L until 1010L).forall(id => !survivors.contains(id))) // copies dropped
    assert(survivors.size === 400) // nothing else was near-identical at 0.999
  }

  test("objectives: FIM reassembles to the original; span corruption round-trips via sentinels") {
    import graft.corpus.Objectives
    val docs = spark.read.parquet(sfUnit + "/documents.parquet").limit(100)

    // FIM: ~half the docs transform; prefix+middle+suffix is a permutation
    // of the original, recoverable by marker slicing
    val fim = docs.select(col("text"),
        Objectives.fim(col("text"), col("doc_id"), 0.5).as("f"))
      .as[(String, String)].collect()
    val changed = fim.filter(r => r._2 != r._1)
    assert(changed.nonEmpty && changed.length < fim.length,
      s"gate splits the corpus (got ${changed.length}/${fim.length})")
    changed.foreach { case (t, f) =>
      assert(f.startsWith("<fim_prefix>"))
      val iSuf = f.indexOf("<fim_suffix>")
      val iMid = f.indexOf("<fim_middle>")
      assert(iSuf > 0 && iMid > iSuf)
      val pre = f.substring("<fim_prefix>".length, iSuf)
      val suf = f.substring(iSuf + "<fim_suffix>".length, iMid)
      val mid = f.substring(iMid + "<fim_middle>".length)
      assert(pre + mid + suf === t, "PSM segments reassemble the document")
    }

    // span corruption: substituting each target span back at its input
    // sentinel reproduces the document verbatim
    val sc = Objectives.spanCorrupt(col("text"), col("doc_id"), 3, 0.3)
    val rows = docs.select(col("text"), sc.getField("input"),
        sc.getField("target"), sc.getField("n_masked"))
      .as[(String, String, String, Long)].collect()
    assert(rows.exists(_._4 > 0) && rows.forall(_._4 >= 0))
    rows.foreach { case (t, inp, tgt, k) =>
      val sentsIn = "<extra_id_[0-9]+>".r.findAllIn(inp).toSeq
      assert(sentsIn.length === k,
        "input carries exactly one sentinel per masked block")
      assert(sentsIn === (0 until k.toInt).map(i => s"<extra_id_$i>"),
        "sentinels are sequential in document order")
      if (k === 0) assert(tgt === "" && inp === t)
      else {
        assert(tgt.endsWith(s"<extra_id_$k>"), "target closes with the final sentinel")
        val spans = tgt.split("<extra_id_[0-9]+>", -1).toSeq
          .slice(1, k.toInt + 1).map(s => s.stripPrefix(" ").stripSuffix(" "))
        val rebuilt = (0 until k.toInt).foldLeft(inp) { (acc, i) =>
          acc.replace(s"<extra_id_$i>", spans(i))
        }
        assert(rebuilt === t, "sentinel substitution reproduces the document")
      }
    }
  }

  test("pii pseudonymize: consistent across docs, case-insensitive emails, structure kept") {
    import graft.corpus.Pii
    val rows = Seq(
      (1L, "Alice@X.com wrote to bob@y.org from 1.2.3.4"),
      (2L, "reply from alice@x.com via 1.2.3.4 and 8.8.8.8"),
      (3L, "no pii here at all")).toDF("id", "t")
    val out = rows.select(col("id"), Pii.pseudonymize(col("t")).as("p"))
      .as[(Long, String)].collect().sortBy(_._1).map(_._2)

    // same email (case-insensitive) and same IP → same pseudonym across rows
    val alice1 = "user-[0-9a-f]{8}@example\\.com".r.findAllIn(out(0)).toSeq
    val alice2 = "user-[0-9a-f]{8}@example\\.com".r.findAllIn(out(1)).toSeq
    assert(alice1.length === 2 && alice2.length === 1)
    assert(alice1.head === alice2.head, "Alice@X.com ≡ alice@x.com corpus-wide")
    assert(alice1(1) !== alice1.head, "bob gets a different pseudonym")
    val ip1 = "10\\.[0-9]+\\.[0-9]+\\.[0-9]+".r.findAllIn(out(0)).toSeq
    val ip2 = "10\\.[0-9]+\\.[0-9]+\\.[0-9]+".r.findAllIn(out(1)).toSeq
    assert(ip1.length === 1 && ip2.length === 2)
    assert(ip2.contains(ip1.head), "1.2.3.4 maps identically in both docs")
    assert(ip2.distinct.length === 2, "8.8.8.8 maps elsewhere")

    // the surrounding text survives verbatim (the first email sits at
    // position 0, so the rebuilt row STARTS with its pseudonym)
    assert(out(0) === s"${alice1.head} wrote to ${alice1(1)} from ${ip1.head}")
    assert(out(2) === "no pii here at all")
  }

  test("pii: luhn validation, redaction order, detect counts") {
    import graft.corpus.Pii
    def luhn(s: String): Boolean =
      spark.range(1).select(Pii.luhnValid(lit(s))).collect()(0).getBoolean(0)
    assert(luhn("4539148803436467")) // valid Visa test number
    assert(luhn("4539 1488 0343 6467")) // separators stripped first
    assert(!luhn("4539148803436468")) // off-by-one check digit
    assert(luhn("4111111111111111"))
    assert(!luhn("1234")) // too short for a PAN
    assert(!luhn("")) // empty never validates

    val t = "mail a@b.co card 4539 1488 0343 6467 ip 10.2.0.1 ssn 123-45-6789 ph (555) 867-5309"
    val red = spark.range(1).select(Pii.redact(lit(t))).collect()(0).getString(0)
    assert(red === "mail <EMAIL> card <CREDIT_CARD> ip <IP> ssn <SSN> ph <PHONE>")
    val d = spark.range(1).select(Pii.detect(lit(t)).as("d")).select(col("d.*")).collect()(0)
    assert(Seq(d.getLong(0), d.getLong(1), d.getLong(2), d.getLong(3), d.getLong(4), d.getLong(5))
      === Seq(1L, 1L, 1L, 1L, 1L, 1L))
    // invalid checksum: still redacted (conservative), not Luhn-counted
    val t2 = "card 4539 1488 0343 6468 twice 4111111111111111"
    val d2 = spark.range(1).select(Pii.detect(lit(t2)).as("d")).select(col("d.*")).collect()(0)
    assert(d2.getLong(4) === 2L && d2.getLong(5) === 1L)
    assert(spark.range(1).select(Pii.redact(lit(t2))).collect()(0).getString(0)
      === "card <CREDIT_CARD> twice <CREDIT_CARD>")
  }

  test("gopher quality gates: hand-computed signals") {
    def g(text: String) = {
      val row = spark.range(1).select(TextStats.gopherQuality(lit(text)).as("g"))
        .select(col("g.*")).collect()(0)
      (row.getLong(0), row.getDouble(1), row.getDouble(2), row.getDouble(3),
        row.getDouble(4), row.getDouble(5), row.getLong(6), row.getBoolean(7))
    }
    // 50 words of mean length 3.96, two stopwords -> passes every gate
    val good = (Seq("the", "and") ++ (1 to 48).map(i => f"word$i%02d")).mkString(" ")
    val (n1, ml, sym, bul, ell, al, st, pass1) = g(good)
    assert(n1 === 50L && st === 2L && pass1)
    assert(ml === (3 + 3 + 48 * 6).toDouble / 50.0)
    assert(sym === 0.0 && bul === 0.0 && ell === 0.0 && al === 1.0)
    // 49 words -> fails the word-count floor alone
    assert(!g(good.split(" ").drop(1).mkString(" "))._8)
    // bullet/ellipsis line gates
    val lines = (1 to 10).map(i => s"- item $i line...").mkString("\n")
    val (_, _, _, bul2, ell2, _, _, pass2) = g(lines)
    assert(bul2 === 1.0 && ell2 === 1.0 && !pass2)
    // symbol gate: hashes count against words
    val hashy = good + " " + ("#" * 10).split("").mkString(" ")
    assert(g(hashy)._3 > 0.1 && !g(hashy)._8)
  }

  test("multimodal audio: WAV/AIFF header chunk walk recovers the encoded geometry") {
    // 80-bit extended float (AIFF COMM rate) is exact for integer rates
    Seq(8000L, 12000L, 16000L, 20000L, 44100L, 48000L, 1L).foreach { r =>
      val enc = Multimodal.extended80(r)
      assert(enc.length === 10)
      assert(Multimodal.readExtended80(enc, 0) === r, s"extended80($r)")
    }
    // hand-walked roundtrips: encode real containers, decode headers only
    val wav = Multimodal.encodeWav(16000, 2, 500L, seed = 3)
    assert(Multimodal.decodeAudioMeta(wav) ===
      (("wav", 16000, 2, 16, 500L, 500L * 1000 / 16000, wav.length.toLong)))
    val aiff = Multimodal.encodeAiff(12000, 1, 777L, seed = 4)
    assert(Multimodal.decodeAudioMeta(aiff) ===
      (("aiff", 12000, 1, 16, 777L, 777L * 1000 / 12000, aiff.length.toLong)))
    // malformed payloads are rows, not task failures
    assert(Multimodal.decodeAudioMeta("not audio".getBytes)._1 === "unknown")
    assert(Multimodal.decodeAudioMeta(wav.take(20))._1 === "unknown")
    // a corrupt chunk declaring a size past the buffer (negative after
    // toInt) must terminate the walk, not loop the executor
    val corrupt = wav.take(44).toArray
    corrupt(40) = 0xff.toByte; corrupt(41) = 0xff.toByte
    corrupt(42) = 0xff.toByte; corrupt(43) = 0xff.toByte
    assert(Multimodal.decodeAudioMeta(corrupt)._1 === "unknown")
    // distributed path: decode == the generator's ground truth, and the
    // byte count proves nothing decoded the sample bodies away
    val d = Multimodal.decodeAudio(Multimodal.withAudioPayload(docs, "text"))
    val got = d.select(col("text"), col("audio_meta.container"),
      col("audio_meta.sample_rate"), col("audio_meta.channels"),
      col("audio_meta.n_frames"), length(col("payload")).cast("long"),
      col("audio_meta.n_bytes")).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (container, rate, channels, frames) = Multimodal.audioGeometryOf(r.getString(0))
      assert(r.getString(1) === container && r.getInt(2) === rate)
      assert(r.getInt(3) === channels && r.getLong(4) === frames)
      assert(r.getLong(5) === r.getLong(6))
    }
  }

  test("IVF-PQ: codes shape, determinism, and exact-rerank recall vs brute force") {
    import graft.corpus.Similarity
    val queries = embs.orderBy("vec_id").limit(5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))

    // compressed index shape: m codes per vector, all < ks
    val cb = Similarity.pqTrain(
      embs.select(col("vec_id"), Similarity.normalize(col("embedding")).as("vn")),
      col("vec_id"), col("vn"), m = 8, ks = 16, iters = 3)
    assert(cb.length === 8 && cb(0).length === 16 && cb(0)(0).length === 8)
    val codes = embs.select(Similarity.pqEncode(
      Similarity.normalize(col("embedding")), cb).as("c"))
    val stats = codes.select(size(col("c")).as("m"),
      array_max(col("c")).as("mx"), array_min(col("c")).as("mn"))
      .agg(max("m"), min("m"), max("mx"), min("mn")).head()
    assert(stats.getInt(0) === 8 && stats.getInt(1) === 8)
    assert(stats.getInt(2) < 16 && stats.getInt(3) >= 0)

    val exact = Similarity.cosineTopK(
      embs, col("vec_id"), col("embedding"),
      queries, col("qid"), col("qv"), k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet

    def recallOf(np: Int, rr: Int): Double = {
      val got = Similarity.ivfPqTopK(
        embs, col("vec_id"), col("embedding"),
        queries, col("qid"), col("qv"),
        k = 5, kClusters = 8, nprobe = np, m = 8, ks = 16, rerank = rr)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      (exact intersect got).size.toDouble / exact.size
    }

    // nprobe = all clusters + rerank = everything degenerates to exact
    assert(recallOf(8, 500) === 1.0)

    // this fixture is ISOTROPIC RANDOM (intra-label cosine == inter ==
    // 0) — the worst case for ANN: coarse cells are arbitrary and ADC
    // ordering is weak-signal. Everything is deterministic (md5 seeds,
    // fixed data), so the measured recalls are constants; floors assert
    // no regression, not quality on random noise.
    assert(recallOf(3, 500) >= 0.50) // coarse loss only
    assert(recallOf(8, 40) >= 0.44)  // ADC loss only

    // deterministic: identical second run (stage-retry safety)
    val a1 = Similarity.ivfPqTopK(
      embs, col("vec_id"), col("embedding"),
      queries, col("qid"), col("qv"),
      k = 5, kClusters = 8, nprobe = 3, m = 8, ks = 16, rerank = 40)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val a2 = Similarity.ivfPqTopK(
      embs, col("vec_id"), col("embedding"),
      queries, col("qid"), col("qv"),
      k = 5, kClusters = 8, nprobe = 3, m = 8, ks = 16, rerank = 40)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(a1 === a2)
  }

  test("IVF-PQ on clustered data: small nprobe + rerank reaches high recall") {
    import graft.corpus.Similarity
    // planted structure: 5 well-separated centers + deterministic noise
    // (the regime ANN indexes are FOR — unlike the isotropic fixture)
    val dim = 64
    val rows = (0 until 200).map { i =>
      val c = i % 5
      val v = Array.tabulate(dim) { d =>
        val center = if (d >= c * 12 && d < c * 12 + 12) 1.0 else 0.0
        center + 0.25 * math.sin(i * 997.0 + d * 31.0)
      }
      (i.toLong, v.toSeq)
    }
    val planted = rows.toDF("vec_id", "embedding")
    val queries = planted.limit(5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val exact = Similarity.cosineTopK(
      planted, col("vec_id"), col("embedding"),
      queries, col("qid"), col("qv"), k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.ivfPqTopK(
      planted, col("vec_id"), col("embedding"),
      queries, col("qid"), col("qv"),
      k = 5, kClusters = 5, nprobe = 1, m = 8, ks = 16, rerank = 20)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"planted-cluster recall $recall")
  }

  test("ANN index: save -> load -> query equals in-memory; increment holds the recall floor") {
    import graft.corpus.Similarity
    // planted structure as in the clustered IVF-PQ test: 5 separated
    // centers; shard A = first 150 vectors, shard B = last 50
    val dim = 64
    val rows = (0 until 200).map { i =>
      val c = i % 5
      val v = Array.tabulate(dim) { d =>
        val center = if (d >= c * 12 && d < c * 12 + 12) 1.0 else 0.0
        center + 0.25 * math.sin(i * 997.0 + d * 31.0)
      }
      (i.toLong, v.toSeq)
    }
    val all = rows.toDF("vec_id", "embedding")
    val shardA = all.filter(col("vec_id") < 150)
    val shardB = all.filter(col("vec_id") >= 150)
    val queries = all.limit(5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))

    def resultsOf(ix: Similarity.AnnIndex) =
      Similarity.annQuery(ix, queries, col("qid"), col("qv"),
        k = 5, nprobe = 1, rerank = 20)
        .select("query_id", "rank", "neighbor_id")
        .as[(Long, Int, Long)].collect().toSet

    // 1. save -> load -> query is EXACTLY the in-memory result
    val built = Similarity.buildAnnIndex(all, col("vec_id"), col("embedding"),
      kClusters = 5, m = 8, ks = 16)
    val inMem = resultsOf(built)
    val dir = java.nio.file.Files.createTempDirectory("graft-annix").toString
    built.save(dir)
    val loaded = Similarity.AnnIndex.load(spark, dir)
    assert(loaded.centroids.map(_.toSeq).toSeq === built.centroids.map(_.toSeq).toSeq)
    assert(loaded.codebook.map(_.map(_.toSeq).toSeq).toSeq
      === built.codebook.map(_.map(_.toSeq).toSeq).toSeq)
    assert(resultsOf(loaded) === inMem)

    // 2. increment: encode shard B against shard A's FROZEN quantizers;
    //    recall on the planted clusters >= the batch floor (0.9, same as
    //    the clustered ivfPqTopK test)
    val ixA = Similarity.buildAnnIndex(shardA, col("vec_id"), col("embedding"),
      kClusters = 5, m = 8, ks = 16)
    val ixAB = Similarity.annIncrement(ixA, shardB, col("vec_id"), col("embedding"))
    assert(ixAB.coded.count() === 200 && ixAB.vectors.count() === 200)
    val exact = Similarity.cosineTopK(
      all, col("vec_id"), col("embedding"),
      queries, col("qid"), col("qv"), k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = resultsOf(ixAB).map { case (q, _, n) => (q, n) }
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"increment recall $recall")

    // 3. the in-place loop the staging swap exists for: save shard A's
    //    index, LOAD it, increment with shard B (lazy plans still read the
    //    parquet under dir), save back over the SAME dir, reload — results
    //    match the all-in-memory increment
    val dirA = java.nio.file.Files.createTempDirectory("graft-annix-a").toString
    ixA.save(dirA)
    val incOnLoaded = Similarity.annIncrement(
      Similarity.AnnIndex.load(spark, dirA), shardB, col("vec_id"), col("embedding"))
    incOnLoaded.save(dirA) // overwrites the parquet its own plans read from
    assert(resultsOf(Similarity.AnnIndex.load(spark, dirA)) === resultsOf(ixAB))
  }

  test("deterministic sampling: threshold hex, stable membership, stratified fractions") {
    import graft.corpus.Sampling
    assert(Sampling.thresholdHex(0.3) === "4ccccccc")
    assert(Sampling.thresholdHex(0.7) === "b3333333")
    assert(Sampling.thresholdHex(0.0) === "00000000")
    assert(Sampling.thresholdHex(1.0) === "g") // above all hex: keep-all is exact
    val df = spark.range(10000).toDF("id")
    val s1 = Sampling.sample(df, col("id"), 0.25).as[Long].collect().toSet
    val s2 = Sampling.sample(df, col("id"), 0.25).as[Long].collect().toSet
    assert(s1 === s2) // identical across runs — md5 decision, not rand()
    assert(math.abs(s1.size / 10000.0 - 0.25) < 0.02)
    // nested property: a smaller fraction is a SUBSET of a larger one
    val s3 = Sampling.sample(df, col("id"), 0.10).as[Long].collect().toSet
    assert(s3.subsetOf(s1))
    val strat = df.withColumn("g", when(col("id") % 2 === 0, "a").otherwise("b"))
    val kept = Sampling.sampleStratified(strat, col("id"), col("g"), Map("a" -> 0.1))
      .groupBy("g").count().as[(String, Long)].collect().toMap
    assert(math.abs(kept("a") / 5000.0 - 0.1) < 0.03)
    assert(kept("b") === 5000L) // default fraction 1.0 keeps the stratum
  }

  test("span dedup: shared boilerplate paragraph vanishes from BOTH docs, unique text survives") {
    import graft.corpus.SpanDedup
    val boiler = "subscribe to our newsletter all rights reserved"
    val d = Seq(
      (1L, s"alpha beta gamma\n\n$boiler\n\ndelta epsilon"),
      (2L, s"$boiler\n\nzeta eta theta"),
      (3L, "iota kappa lambda\n\nmu nu xi")).toDF("doc_id", "text")
    val got = SpanDedup.dedupSpans(
      d, col("doc_id"), SpanDedup.paragraphSpans(col("text"), "\n\n"),
      delim = "\n\n", minDocs = 2)
      .select("doc_id", "text_clean", "n_spans", "n_dropped")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(got(0) === ((1L, "alpha beta gamma\n\ndelta epsilon", 3L, 1L)))
    assert(got(1) === ((2L, "zeta eta theta", 2L, 1L)))
    assert(got(2) === ((3L, "iota kappa lambda\n\nmu nu xi", 2L, 0L))) // untouched
  }

  test("span dedup: keepFirst keeps the min-id copy; within-doc repeats alone never trigger") {
    import graft.corpus.SpanDedup
    val d = Seq(
      (5L, "shared span here\n\nfive only"),
      (9L, "nine only\n\nshared span here"),
      (7L, "solo repeat\n\nsolo repeat")).toDF("doc_id", "text")
    val got = SpanDedup.dedupSpans(
      d, col("doc_id"), SpanDedup.paragraphSpans(col("text"), "\n\n"),
      delim = "\n\n", minDocs = 2, keepFirst = true)
      .select("doc_id", "text_clean").as[(Long, String)].collect().toMap
    assert(got(5L) === "shared span here\n\nfive only") // min doc_id keeps it
    assert(got(9L) === "nine only")
    // doc 7 repeats a span with ITSELF only — countDistinct(doc)=1 < minDocs
    assert(got(7L) === "solo repeat\n\nsolo repeat")
  }

  test("span dedup: windowSpans round-trips and normalizes case/trim for matching") {
    import graft.corpus.SpanDedup
    val d = Seq((1L, "a b c d e"), (2L, "C D")).toDF("doc_id", "text")
    // windows of 2: doc1 = [a b][c d][e], doc2 = [C D] — hash is md5(lower(trim))
    val got = SpanDedup.dedupSpans(
      d, col("doc_id"), SpanDedup.windowSpans(col("text"), 2), minDocs = 2)
      .select("doc_id", "text_clean").as[(Long, String)].collect().toMap
    assert(got(1L) === "a b e")
    assert(got(2L) === "")
    // lossless round trip when nothing is dropped
    val rt = Seq((1L, "one two three four five")).toDF("doc_id", "text")
      .select(array_join(SpanDedup.windowSpans(col("text"), 2), " ").as("t"))
      .as[String].head()
    assert(rt === "one two three four five")
  }

  test("curate: composed pipeline attributes each drop to the right stage") {
    import graft.corpus.Curate
    // ≥50 words, mean word len ≥3, stopwords present → Gopher-clean scaffold
    val stop = "the be to of and that have with"
    def longDoc(seed: String): String =
      (1 to 8).map(i => s"$stop $seed word$i alpha beta gamma delta").mkString(" ")
    val textA = longDoc("orange")
    val textB = longDoc("violet")
    val d = Seq(
      // 1,2: same page crawled twice (tracking params / default port / case)
      (1L, textA, "HTTP://Example.com/page?utm_source=t&x=1", "en"),
      (2L, textA, "http://example.com:80/page/?x=1", "en"),
      // 3,4: distinct URLs, near-identical text → one near-dup cluster
      (3L, textB, "https://a.example/3", "en"),
      (4L, textB + " extra", "https://a.example/4", "en"),
      // 5: quality fail (too short)
      (5L, "tiny doc", "https://a.example/5", "en"),
      // 6: quality-clean but out-of-distribution trigrams, excluded from LM
      (6L, longDoc("qzxjvkwq"), "https://a.example/6", "xx"),
      // 7: PII plant — redacted_md5 must hash the REDACTED text
      (7L, longDoc("lemon") + " contact bob@example.com now", "https://a.example/7", "en")
    ).toDF("doc_id", "text", "url", "lang")

    def run(cap: Double) = Curate.curate(
        d, col("doc_id"), col("text"), col("url"), col("lang"), ceCap = cap)
      .as[(Long, Boolean, Boolean, Boolean, Double, String, String, Boolean)]
      .collect().map(r => r._1 -> r).toMap

    val got = run(cap = 1e9)
    assert(got.size === 7) // audit shape: one row per INPUT doc
    assert(got(1L)._2 && !got(2L)._2, "url keeper = min id of the canonical group")
    assert((3L to 7L).forall(got(_)._2))
    assert(got(3L)._3 && !got(4L)._3, "near-dup keeper = min id of the cluster")
    assert(!got(2L)._3, "a url-dropped doc never holds dedup keeper-ship")
    assert(Seq(1L, 5L, 6L, 7L).forall(got(_)._3)) // singletons keep themselves
    assert(!got(5L)._4 && Seq(1L, 3L, 4L, 6L, 7L).forall(got(_)._4))
    assert(got(3L)._7 === got(4L)._7, "cluster members share a split — no leakage")
    assert(Seq(1L, 3L, 6L, 7L).forall(got(_)._8))
    assert(Seq(2L, 4L, 5L).forall(!got(_)._8))

    // redacted_md5 hashes the text AFTER redaction
    val expected = got(7L)._6
    val redacted = (longDoc("lemon") + " contact <EMAIL> now").getBytes("UTF-8")
    val md = java.security.MessageDigest.getInstance("MD5").digest(redacted)
    assert(expected === md.map("%02x".format(_)).mkString)

    // the perplexity gate: doc 6's unseen trigrams score above every
    // en-trained doc; a cap in the gap drops exactly doc 6
    val ceEn = Seq(1L, 3L, 7L).map(got(_)._5).max
    assert(got(6L)._5 > ceEn)
    val gated = run(cap = (ceEn + got(6L)._5) / 2)
    assert(!gated(6L)._8 && gated(1L)._8 && gated(3L)._8)
  }

  test("viral exact-dup group: collapsed banding keeps clustering identical, batch and increment") {
    import graft.corpus.Dedup
    // 200 identical copies + two near-dup variants + unique docs: the
    // representative-banded edge set must produce the same clusters the
    // all-doc banding would (one cluster containing all 202, min-id keeper)
    val viral = "the viral boilerplate page text shared by every mirror site"
    val docs = ((1 to 200).map(i => (i.toLong, viral)) ++ Seq(
      (201L, viral + " tweaked"),                              // near-dup of the group
      (202L, "an entirely different document about gardens"),
      (203L, "and one more unique page on carpentry tools")
    )).toDF("doc_id", "text")
    val survivors = Dedup.dedupCorpus(docs, col("doc_id"), col("text"))
      .select(col("doc_id")).as[Long].collect().sorted
    assert(survivors === Array(1L, 202L, 203L),
      "viral group + its near-dup collapse to the min id; uniques survive")

    // increment path: a shard re-delivering the viral text (and a fresh
    // near-dup) must fold into the indexed cluster without re-banding it
    val idx = Dedup.buildIndex(docs, col("doc_id"), col("text"))
    val shard = Seq(
      (301L, viral),                     // content the index has seen
      (302L, viral + " tweaked again"),  // fresh near-dup of the group
      (303L, "a brand new unique page about sailing")
    ).toDF("doc_id", "text")
    val (assign, idx2) = Dedup.dedupIncrement(shard, col("doc_id"), col("text"), idx)
    val keep = assign.filter(col("member_id") === col("keep_id"))
      .select(col("member_id")).as[Long].collect().sorted
    assert(keep === Array(1L, 202L, 203L, 303L))
    assert(assign.filter(col("member_id").isin(301L, 302L))
      .select(col("keep_id")).as[Long].collect().forall(_ == 1L),
      "shard copies and fresh near-dups fold into the indexed viral cluster")
    // the index bands one representative per DISTINCT content (4 contents
    // in the seed corpus, 8 band rows each); re-delivered content (301)
    // adds no signature rows, the two genuinely-new contents add 8 each
    assert(idx.bands.count() === 4L * 8L)
    assert(idx2.bands.count() === 6L * 8L)
  }

  test("property: corpusEdges clusters == all-doc banding clusters on randomized corpora") {
    import graft.corpus.Dedup
    // randomized corpora with forced exact-duplicate groups and shingle
    // overlap: the collapsed edge set must produce the SAME components as
    // the naive composition (exact star edges ∪ LSH over every doc)
    val vocab = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    (1 to 4).foreach { seed =>
      val rnd = new scala.util.Random(seed * 7919)
      val texts = (1 to 60).map { i =>
        val base = Seq.fill(10)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
        i.toLong -> base
      }
      // clone ~1/3 of docs onto later ids (exact dups), tweak a few (near)
      val docs = texts.map { case (i, t) =>
        if (i > 40 && rnd.nextBoolean()) (i, texts((i % 20).toInt)._2) // exact dup
        else if (i > 55) (i, texts((i % 10).toInt)._2 + " extra") // near-dup
        else (i, t)
      }.toDF("doc_id", "text")

      val viaCollapsed = Dedup.resolveClusters(
          docs.select(col("doc_id").as("member_id")),
          Dedup.corpusEdges(docs, col("doc_id"), col("text")),
          "doc_a", "doc_b")
        .select(col("member_id"), col("cluster_id")).as[(Long, Long)].collect().toMap
      val naiveEdges = {
        val hashed = docs.select(col("doc_id"), Dedup.contentHash(col("text")).as("h"))
        val keepers = hashed.groupBy("h")
          .agg(min(col("doc_id")).as("doc_a"), count(lit(1)).as("n"))
          .filter(col("n") > 1)
        hashed.join(keepers, Seq("h")).filter(col("doc_id") =!= col("doc_a"))
          .select(col("doc_a"), col("doc_id").as("doc_b"))
          .unionByName(Dedup.minhashLsh(docs, col("doc_id"), col("text"))
            .select(col("doc_a"), col("doc_b")))
      }
      val viaNaive = Dedup.resolveClusters(
          docs.select(col("doc_id").as("member_id")), naiveEdges, "doc_a", "doc_b")
        .select(col("member_id"), col("cluster_id")).as[(Long, Long)].collect().toMap
      assert(viaCollapsed === viaNaive, s"seed $seed: cluster maps diverge")
    }
  }

  test("viral identical embeddings: collapsed banding clusters like all-copy pairs") {
    import graft.corpus.{Dedup, Similarity}
    val v = Array.tabulate(64)(i => math.sin(i + 1).toFloat)
    val near = v.updated(0, v(0) + 0.02f) // cosine ≈ 1 > threshold
    val far = Array.tabulate(64)(i => (if (i % 2 == 0) 1f else -1f) * (i + 1))
    val docs = ((1 to 100).map(i => (i.toLong, v.toSeq)) ++
      Seq((101L, near.toSeq), (102L, far.toSeq))).toDF("vec_id", "embedding")
    val clusters = Dedup.resolveClusters(
        docs.select(col("vec_id").as("member_id")),
        Similarity.embedNearDupEdges(docs, col("vec_id"), col("embedding"),
          threshold = 0.4),
        "vec_a", "vec_b")
      .select(col("member_id"), col("cluster_id")).as[(Long, Long)]
      .collect().toMap
    assert((1L to 101L).forall(clusters(_) == 1L),
      "100 identical copies + the near variant form one min-id cluster")
    assert(clusters(102L) === 102L, "the far vector stays its own cluster")
    // the LSH only ever bands the distinct vectors: star edges carry 99
    // members, and the one genuine near pair arrives from the rep join
    val edges = Similarity.embedNearDupEdges(docs, col("vec_id"), col("embedding"),
      threshold = 0.4)
    assert(edges.count() === 99L + 1L)
  }

  test("mp4: box-tree header decode incl. v1 boxes and largesize; corrupt -> unknown") {
    import graft.corpus.Multimodal
    def be32(v: Int) = Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def be64(v: Long) = be32((v >> 32).toInt) ++ be32(v.toInt)
    def box(t: String, p: Array[Byte]) = be32(p.length + 8) ++ t.getBytes("US-ASCII") ++ p

    val enc = Multimodal.encodeMp4(timescale = 1200, durationTicks = 3600L, w = 320, h = 240)
    assert(enc.length === 260)
    assert(Multimodal.decodeVideoMeta(enc) === (("mp4", 1200, 3600L, 3000L, 320, 240, 260L)))

    // v1 mvhd/tkhd (64-bit times) + a LARGESIZE mdat: still parses
    val mvhd1 = box("mvhd", Array[Byte](1, 0, 0, 0) ++ be64(0) ++ be64(0) ++
      be32(600) ++ be64(1500L) ++ be32(0x00010000) ++ new Array[Byte](12) ++
      new Array[Byte](36) ++ new Array[Byte](24) ++ be32(2))
    val tkhd1 = box("tkhd", Array[Byte](1, 0, 0, 0) ++ be64(0) ++ be64(0) ++
      be32(1) ++ be32(0) ++ be64(1500L) ++ new Array[Byte](8) ++
      new Array[Byte](8) ++ new Array[Byte](36) ++ be32(640 << 16) ++ be32(480 << 16))
    val body = Array.fill[Byte](8)(1)
    val largeMdat = be32(1) ++ "mdat".getBytes("US-ASCII") ++ be64(16L + body.length) ++ body
    val v1 = box("ftyp", "isom".getBytes ++ be32(0)) ++
      box("moov", mvhd1 ++ box("trak", tkhd1)) ++ largeMdat
    val got = Multimodal.decodeVideoMeta(v1)
    assert(got._1 === "mp4" && got._2 === 600 && got._3 === 1500L &&
      got._4 === 2500L && got._5 === 640 && got._6 === 480)

    assert(Multimodal.decodeVideoMeta("not a video at all".getBytes)._1 === "unknown")
    // a moov whose declared child size overruns the buffer -> unknown
    val bad = box("ftyp", "isom".getBytes ++ be32(0)) ++
      box("moov", be32(9999) ++ "mvhd".getBytes ++ new Array[Byte](4))
    assert(Multimodal.decodeVideoMeta(bad)._1 === "unknown")
  }

  test("curateIncrement ≡ batch under the frozen LM; index save/load; keeper table grows") {
    import graft.corpus.Curate
    val stop = "the be to of and that have with"
    def longDoc(seed: String): String =
      (1 to 8).map(i => s"$stop $seed word$i alpha beta gamma delta").mkString(" ")
    val cols = Seq("doc_id", "text", "url", "lang")
    val shard1 = Seq(
      (1L, longDoc("orange"), "https://a.example/1", "en"),
      (2L, longDoc("violet"), "https://a.example/2", "en"),
      (3L, longDoc("grape"), "https://a.example/3", "en"),
      (4L, "tiny", "https://a.example/4", "en")
    ).toDF(cols: _*)
    val shard2 = Seq(
      (11L, longDoc("mango"), "https://a.example/1?utm_source=x", "en"), // url dup
      (12L, longDoc("violet") + " extra", "https://b.example/12", "en"), // near-dup of 2
      (13L, longDoc("fresh"), "https://b.example/13", "en"),             // clean
      (14L, "small junk", "https://b.example/14", "en"),                 // quality fail
      (15L, longDoc("qzxjvkwq"), "https://b.example/15", "xx")           // OOD trigrams
    ).toDF(cols: _*)

    val dir = java.nio.file.Files.createTempDirectory("graft-curidx").toString
    Curate.buildIndex(shard1, col("doc_id"), col("text"), col("url"), col("lang"))
      .save(dir)
    val loaded = Curate.CurateIndex.load(spark, dir)
    val (audit, updated) = Curate.curateIncrement(shard2,
      col("doc_id"), col("text"), col("url"), col("lang"), loaded, ceCap = 1e9)
    val got = audit
      .as[(Long, Boolean, Boolean, Boolean, Double, String, String, Boolean)].collect().map(r => r._1 -> r).toMap

    // the batch reference: curate over (indexed ∪ shard) under the SAME
    // frozen LM, restricted to the shard's rows
    val batch = Curate.curate(shard1.union(shard2),
        col("doc_id"), col("text"), col("url"), col("lang"),
        ceCap = 1e9, lm = Some(loaded.lm))
      .filter(col("doc_id") >= 11L)
      .as[(Long, Boolean, Boolean, Boolean, Double, String, String, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(got.keySet === batch.keySet)
    got.keySet.foreach { k =>
      val (g, b) = (got(k), batch(k))
      assert((g._2, g._3, g._4, g._6, g._7, g._8) === (b._2, b._3, b._4, b._6, b._7, b._8),
        s"flags/split/hash for doc $k: increment=$g batch=$b")
      assert(math.abs(g._5 - b._5) < 1e-9, s"cross-entropy for doc $k")
    }
    // semantics spot checks
    assert(!got(11L)._2, "same canonical URL as an indexed doc -> not a keeper")
    assert(got(12L)._2 && !got(12L)._3, "near-dup of an indexed text joins its cluster")
    assert(got(13L)._2 && got(13L)._3 && got(13L)._8)
    assert(!got(14L)._4, "quality gate")

    // the updated keeper table remembers the shard: a later re-crawl of
    // /13 (tracking-param variant) is a URL duplicate now
    val shard3 = Seq(
      (21L, longDoc("late"), "https://b.example/13?utm_source=y", "en")).toDF(cols: _*)
    val (a3, _) = Curate.curateIncrement(shard3,
      col("doc_id"), col("text"), col("url"), col("lang"), updated, ceCap = 1e9)
    assert(!a3.select(col("url_keeper")).as[Boolean].head())
  }

  test("near-dup spans: varying boilerplate collapses to its first copy; unique text survives") {
    import graft.corpus.SpanDedup
    def banner(v: Int) =
      s"cookie consent banner please accept our terms and privacy policy version v$v"
    val docs = Seq(
      (1L, s"alpha unique words one two three\n\n${banner(0)}"),
      (2L, s"${banner(1)}\n\nbeta unique words four five six"),
      (3L, s"gamma entirely different paragraph here\n\n${banner(2)}"),
      // two banner VARIANTS inside one doc: both are late copies, both drop
      (4L, s"${banner(0)}\n\n${banner(1)}\n\ndelta unique seven eight nine")
    ).toDF("doc_id", "text")
    val out = SpanDedup.nearDedupSpans(docs, col("doc_id"),
        SpanDedup.paragraphSpans(col("text"), "\n\n"), delim = "\n\n")
      .select(col("doc_id"), col("text_clean"), col("n_dropped"))
      .as[(Long, String, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._2 === s"alpha unique words one two three\n\n${banner(0)}" &&
      out(1L)._3 === 0L, "the globally-first banner copy survives in place")
    assert(out(2L)._2 === "beta unique words four five six" && out(2L)._3 === 1L,
      "a VARIANT banner (different trailing word) still clusters and drops")
    assert(out(3L)._2 === "gamma entirely different paragraph here" && out(3L)._3 === 1L)
    assert(out(4L)._2 === "delta unique seven eight nine" && out(4L)._3 === 2L,
      "within-doc near-dup copies drop too")
  }

  test("classifier: GD training separates labeled seeds; gradient pinned; apply scan-stage") {
    import graft.corpus.Classifier
    val good = (1 to 40).map(i =>
      (i.toLong, s"helpful detailed informative answer number$i with clear reasoning", 1))
    val bad = (41 to 80).map(i =>
      (i.toLong, s"spam junk clickbait garbage text number$i buy now cheap", 0))
    val docs = (good ++ bad).toDF("id", "text", "label")
    // mean-of-onehot features keep per-step margins ~1/n_feats: a linear
    // model on separable seeds wants a hot learning rate
    val m = Classifier.train(docs, col("id"), col("text"), col("label"),
      buckets = 256, iters = 60, lr = 30.0)
    val scored = docs
      .select(col("id"), col("label"), Classifier.score(col("text"), m).as("s"))
      .as[(Long, Int, Double)].collect()
    val gs = scored.filter(_._2 == 1).map(_._3)
    val bs = scored.filter(_._2 == 0).map(_._3)
    assert(gs.sum / gs.length > 0.8 && bs.sum / bs.length < 0.2,
      s"classes must separate, got good=${gs.sum / gs.length} bad=${bs.sum / bs.length}")
    assert(gs.min > bs.max, "separable vocab -> total order between classes")

    // apply is a pure scan-stage expression: no shuffle in the plan
    val p = docs.select(Classifier.score(col("text"), m))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"apply must not shuffle:\n$p")

    // one GD step pinned against a naive driver-side recompute
    def bucketsOf(text: String, B: Int): Seq[Int] = {
      val ws = text.split(" ", -1)
      val grams = ws.toSeq ++ ws.sliding(2).filter(_.length == 2).map(_.mkString(" "))
      grams.map { g =>
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(g.getBytes("UTF-8"))
        val hex = md.take(4).map("%02x".format(_)).mkString
        (java.lang.Long.parseLong(hex, 16) % B).toInt
      }
    }
    val tiny = Seq((1L, "aa bb cc", 1), (2L, "bb dd", 0), (3L, "aa cc", 1))
    val B = 8
    val got = Classifier.train(tiny.toDF("id", "text", "label"),
      col("id"), col("text"), col("label"), buckets = B, iters = 1, lr = 2.0)
    val wExp = new Array[Double](B)
    var bExp = 0.0
    tiny.foreach { case (_, t, y) =>
      val f = bucketsOf(t, B)
      val err = 0.5 - y // sigmoid(0) = 0.5 at zero-init weights
      f.foreach(b => wExp(b) -= 2.0 * (err / f.length) / tiny.length)
      bExp -= 2.0 * err / tiny.length
    }
    assert(math.abs(got.bias - bExp) < 1e-12)
    got.weights.zip(wExp).foreach { case (a, e) => assert(math.abs(a - e) < 1e-12) }
  }

  test("export: shard write + manifest verify; corruption detected; reruns identical") {
    import graft.corpus.Export
    val docs = spark.read.parquet(sfUnit + "/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft-export").toString

    val manifest = Export.writeShards(docs, col("doc_id"), nShards = 4, dir)
      .as[(Int, Long, Long)].collect().sortBy(_._1)
    assert(manifest.map(_._1).toSeq === Seq(0, 1, 2, 3))
    val total = docs.count()
    assert(manifest.map(_._2).sum === total)
    // md5-mod balance: no shard dominates (within 2x of fair share)
    assert(manifest.map(_._2).max <= 2 * total / 4)

    val ok = Export.verifyShards(spark, col("doc_id"), dir)
      .select(col("ok")).as[Boolean].collect()
    assert(ok.length === 4 && ok.forall(identity))

    // data files are pre-sorted by the order key: shard_pos is recoverable
    // from file order without re-sorting
    val s0 = spark.read.parquet(s"$dir/data/shard=0").select(col("doc_id")).as[Long].collect()
    val expected = Export.shardAssignment(docs, col("doc_id"), 4)
      .filter(col("shard") === 0).orderBy(col("shard_pos"))
      .select(col("doc_id")).as[Long].collect()
    assert(s0.toSeq === expected.toSeq)

    // a re-run reproduces the identical manifest (no rand() anywhere)
    val dir2 = java.nio.file.Files.createTempDirectory("graft-export2").toString
    val manifest2 = Export.writeShards(docs, col("doc_id"), nShards = 4, dir2)
      .as[(Int, Long, Long)].collect().sortBy(_._1)
    assert(manifest2.toSeq === manifest.toSeq)

    // corrupt one shard -> its row flags false, others stay true
    val f = new java.io.File(s"$dir/data/shard=3")
    f.listFiles().filter(_.getName.endsWith(".parquet")).take(1).foreach(_.delete())
    val after = Export.verifyShards(spark, col("doc_id"), dir)
      .select(col("shard"), col("ok")).as[(Int, Boolean)].collect().toMap
    assert(!after(3) && Seq(0, 1, 2).forall(after))
  }

  test("subtract: exact + near cross-source verdicts; case-variants share one representative") {
    import graft.corpus.Dedup
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "ALPHA beta gamma delta epsilon zeta eta theta"), // same contentHash as 1
      (3L, "one two three four five six seven eight nine ten"),
      (4L, "completely different words nothing shared here at all"),
      (5L, "short")).toDF("doc_id", "text")
    val ref = Seq(
      "alpha beta gamma delta epsilon zeta eta theta", // exact copy of 1 (and 2 normalized)
      "one two three four five six seven eight"        // 8/10-word prefix of 3 → J = 6/8
    ).toDF("rt")
    val out = Dedup.subtract(docs, col("doc_id"), col("text"), ref, col("rt"))
      .select(col("doc_id"), col("sub_exact"), col("sub_near"), col("kept"))
      .as[(Long, Boolean, Boolean, Boolean)].collect().sortBy(_._1)
    assert(out(0) === ((1L, true, true, false)))
    // doc 2 keys the same content hash (lower∘trim) → exact; its near
    // verdict rides the deterministic min-text representative ("ALPHA…"
    // sorts first), whose shingles still hit J = 5/7 vs the reference
    assert(out(1) === ((2L, true, true, false)))
    assert(out(2) === ((3L, false, true, false))) // near only: J = 0.75
    assert(out(3) === ((4L, false, false, true)))
    assert(out(4) === ((5L, false, false, true))) // 1 word → no shingles → kept
  }

  test("retract: minimal re-export equals full re-export restricted to affected shards") {
    import graft.corpus.Export
    val docs = spark.read.parquet(sfUnit + "/documents.parquet")
    val takedowns = docs.where(pmod(col("doc_id"), lit(37)) === 5)
      .select(col("doc_id").as("rid"))
    val got = Export.retract(docs, col("doc_id"), takedowns, col("rid"), 16)
      .select(col("doc_id"), col("shard"), col("shard_pos"))
      .as[(Long, Int, Long)].collect().toSet

    // ground truth: reassign the FULL surviving corpus, keep affected shards
    val ridSet = takedowns.as[Long].collect().toSet
    val full = Export.shardAssignment(
        docs.where(!col("doc_id").isin(ridSet.toSeq: _*)), col("doc_id"), 16)
      .select(col("doc_id"), col("shard"), col("shard_pos"))
      .as[(Long, Int, Long)].collect()
    val affectedShards = Export.shardAssignment(
        docs.where(col("doc_id").isin(ridSet.toSeq: _*)), col("doc_id"), 16)
      .select(col("shard")).as[Int].collect().toSet
    val expected = full.filter(r => affectedShards.contains(r._2)).toSet
    assert(got === expected)

    // minimality: untouched shards never appear, retracted ids are gone
    assert(got.map(_._2).subsetOf(affectedShards))
    assert(got.map(_._1).intersect(ridSet).isEmpty)
    // within each rebuilt shard, positions are a clean 1..n re-rank
    got.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).toSeq.sorted === (1L to rows.size).toSeq)
    }

    // the corpus side joins the takedown set by BROADCAST — no corpus-wide
    // shuffle beyond the affected-shard re-rank window
    val plan = Export.retract(docs, col("doc_id"), takedowns, col("rid"), 16)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("jsonl export: escaped lines, shard manifest agrees, rerun byte-identical") {
    import graft.corpus.Export
    val docs = Seq(
      (1L, "plain text"),
      (2L, "with \"quotes\" and \\backslash\\"),
      (3L, "line one\nline two")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonl").toString
    val manifest = Export.writeJsonlShards(docs, col("doc_id"), 2, dir,
      "id" -> col("doc_id"), "text" -> col("text"))
      .as[(Int, Long, Long)].collect().sortBy(_._1)
    assert(manifest.map(_._2).sum === 3L)
    val lines = spark.read.text(s"$dir/data")
      .select(col("value")).as[String].collect().sorted
    assert(lines.length === 3)
    // the embedded newline is escaped: every row is exactly one line
    assert(lines.exists(_.contains("""line one\nline two""")))
    assert(lines.exists(_.contains("""with \"quotes\" and \\backslash\\""")))
    assert(lines.forall(l => l.startsWith("{\"id\":") && l.endsWith("\"}") || l.endsWith("}")))
    val dir2 = java.nio.file.Files.createTempDirectory("graft-jsonl2").toString
    Export.writeJsonlShards(docs, col("doc_id"), 2, dir2,
      "id" -> col("doc_id"), "text" -> col("text"))
    val lines2 = spark.read.text(s"$dir2/data")
      .select(col("value")).as[String].collect().sorted
    assert(lines2.toSeq === lines.toSeq)
  }

  test("wordpiece: likelihood-scored merges, greedy longest-match apply, UNK collapse") {
    import graft.corpus.WordPiece
    // hand-worked multiset: ab×6 ad×2 cb×2
    //   counts a:8 c:2 ##b:8 ##d:2; pairs (a,##b):6 (a,##d):2 (c,##b):2
    //   scores 6/64 < 2/16 = 2/16 — the FREQUENT pair loses to the
    //   likelihood score; the tie breaks lexicographically to (a,##d)
    //   iter2: (a,##b) 6/48 ties (c,##b) 2/16 → (a,##b)
    val corpus = Seq((("ab " * 6) + ("ad " * 2) + ("cb " * 2)).trim).toDF("text")
    val model = WordPiece.train(corpus, col("text"), numMerges = 2)
    assert(model.merges === Seq("a" -> "##d", "a" -> "##b"))
    assert(model.vocab === Set("a", "c", "##b", "##d", "ad", "ab"))

    // greedy longest-match-first; continuation pieces carry ##; a word
    // with an unmatchable position collapses WHOLE to [UNK] (never
    // partial pieces + UNK — BERT WordpieceTokenizer semantics)
    def enc(w: String) = WordPiece.encodeWord(w, model).toSeq
    assert(enc("adb") === Seq("ad", "##b"))
    assert(enc("abd") === Seq("ab", "##d"))
    assert(enc("ab") === Seq("ab"))
    assert(enc("ba") === Seq(WordPiece.Unk)) // bare 'b' is not in the alphabet
    assert(enc("cab") === Seq(WordPiece.Unk)) // '##a' never occurs → whole-word UNK

    // the scan-stage expression agrees with the driver encode
    val toks = Seq(("adb ab cab", 1)).toDF("text", "i")
      .select(WordPiece.encode(col("text"), model)).as[Seq[String]].head()
    assert(toks === Seq("ad", "##b", "ab", "[UNK]"))

    // pairScores (the oracle face) reproduces the trainer's first
    // iteration on a real corpus slice
    val docs = spark.read.parquet(sfUnit + "/documents.parquet").limit(50)
    val words = docs.select(explode(split(lower(col("text")), "[^a-z]+")).as("w"))
      .where(length(col("w")) >= 2)
    val got = WordPiece.pairScores(words, col("w"))
      .select(col("left_sym"), col("right_sym"), col("freq"), col("score"))
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    // driver recompute over the full word-instance table
    val local = words.as[String].collect()
    val sc = scala.collection.mutable.HashMap.empty[String, Long]
    val pc = scala.collection.mutable.HashMap.empty[(String, String), Long]
    for (w <- local) {
      val sy = WordPiece.symbols(w)
      sy.foreach(s => sc.update(s, sc.getOrElse(s, 0L) + 1))
      sy.sliding(2).foreach {
        case Array(x, y) => pc.update((x, y), pc.getOrElse((x, y), 0L) + 1)
        case _ =>
      }
    }
    assert(got.keySet === pc.keySet)
    got.foreach { case (k, (f, s)) =>
      assert(f === pc(k))
      assert(s === pc(k).toDouble / (sc(k._1).toDouble * sc(k._2).toDouble))
    }
  }

  test("bpe: trained merges match the hand-derived greedy sequence; encode applies by rank") {
    import graft.corpus.Bpe
    // Sennrich's worked multiset: low×5 lower×2 newest×6 widest×3
    val corpus = Seq(
      (("low " * 5) + ("lower " * 2)).trim,
      (("newest " * 6) + ("widest " * 3)).trim
    ).toDF("text")
    val merges = Bpe.train(corpus, col("text"), numMerges = 5)
    // pair counts: (e,s)=9 -> es; (es,t)=9 -> est; (est,</w>)=9; (l,o)=7; (lo,w)=7
    assert(merges === Seq("e" -> "s", "es" -> "t", "est" -> "</w>",
      "l" -> "o", "lo" -> "w"))

    val toks = Seq(("lowest newest", 1)).toDF("text", "i")
      .select(Bpe.encode(col("text"), merges)).as[Seq[String]].head()
    assert(toks === Seq("low", "est</w>", "n", "e", "w", "est</w>"),
      "merges apply lowest-rank-first and never cross word boundaries")

    // unknown symbols fall through as code points (incl. non-BMP)
    val uni = Seq(("x😀y", 1)).toDF("text", "i")
      .select(Bpe.encode(col("text"), merges)).as[Seq[String]].head()
    assert(uni === Seq("x", "😀", "y", "</w>"))

    // the distributed expression equals the driver-side reference encode
    val docs = spark.read.parquet(sfUnit + "/documents.parquet").limit(50)
    val m2 = Bpe.train(docs, col("text"), numMerges = 40)
    val dist = docs.select(col("doc_id"), Bpe.encode(col("text"), m2))
      .as[(Long, Seq[String])].collect().toMap
    val ranks = m2.zipWithIndex.toMap
    val local = docs.select(col("doc_id"), col("text")).as[(Long, String)].collect()
      .map { case (id, t) =>
        id -> t.split("\\s+").filter(_.nonEmpty).toSeq.flatMap(Bpe.encodeWord(_, ranks))
      }.toMap
    assert(dist === local)
    // round trip: concatenated tokens minus the markers reproduce the text
    val (someId, someToks) = dist.head
    val text = docs.filter(col("doc_id") === someId).select(col("text")).as[String].head()
    assert(someToks.mkString.replace(Bpe.EndOfWord, " ").trim ===
      text.split("\\s+").filter(_.nonEmpty).mkString(" "))

    // vocab ids: <unk>=0, base symbols sorted, merges in rank order; id
    // decode inverts token encode; out-of-vocabulary symbols hit <unk>
    val voc = Bpe.vocab(corpus, col("text"), merges)
    assert(voc("<unk>") === 0)
    assert(voc(Bpe.EndOfWord) > 0 && voc("est</w>") > voc("es"),
      "merge products follow base symbols in rank order")
    val inv = voc.map(_.swap)
    val ids = Seq(("lowest newest", 1)).toDF("text", "i")
      .select(Bpe.encodeIds(col("text"), merges, voc)).as[Seq[Int]].head()
    assert(ids.map(inv) === toks, "id stream decodes to the token stream")
    val unk = Seq(("zebra", 1)).toDF("text", "i") // 'z','b','a' unseen in training
      .select(Bpe.encodeIds(col("text"), merges, voc)).as[Seq[Int]].head()
    assert(unk.count(_ == 0) === 3 && unk.last === voc(Bpe.EndOfWord))
  }

  test("url blocklist: host extraction, equals-or-subdomain match, hash anti-join plan") {
    import graft.corpus.Url
    val docs = Seq(
      (1L, "https://ads.tracker.net/x"),
      (2L, "https://user:pw@Tracker.NET:8443/y?q=1"), // userinfo + port + case
      (3L, "https://nottracker.net/z"),               // look-alike suffix survives
      (4L, "https://deep.sub.ads.tracker.net/w"),
      (5L, "https://good.org/ok"),
      (6L, "not a url at all"),
      (7L, "https://bad.example/e#frag")
    ).toDF("doc_id", "url")
    val blocked = Seq("tracker.net", "bad.example")

    val hosts = docs.select(col("doc_id"), Url.host(col("url")))
      .as[(Long, String)].collect().toMap
    assert(hosts(2L) === "tracker.net", "userinfo and port stripped, host lowercased")
    assert(hosts(6L) === "", "non-URL -> empty host")

    val flags = docs.select(col("doc_id"), Url.domainBlocked(col("url"), blocked))
      .as[(Long, Boolean)].collect().toMap
    assert(Seq(1L, 2L, 4L, 7L).forall(flags), "exact + subdomain hosts blocked")
    assert(Seq(3L, 5L, 6L).forall(!flags(_)), "look-alike/clean/non-URL survive")

    val frame = Url.filterBlockedDomains(
      docs, col("url"), blocked.toDF("domain"), col("domain"))
    assert(frame.select(col("doc_id")).as[Long].collect().sorted ===
      Array(3L, 5L, 6L), "frame variant agrees with the literal variant")

    val p = frame.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"expected a broadcast hash anti join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), "residual must ride the hash join")
  }

  test("doremi: EG step up-weights high-excess domains, clips negatives, honors prior") {
    import graft.corpus.Sampling
    // domain a: mean excess 2.0, b: 0.5, c: -1.0 (clips to 0)
    val docs = Seq(
      (1L, "a", 1.0), (2L, "a", 3.0),
      (3L, "b", 0.5), (4L, "b", 0.5),
      (5L, "c", -1.0), (6L, "c", -1.0)).toDF("doc_id", "src", "excess")
    val out = Sampling.doremiStep(docs, col("src"), col("excess"),
        eta = 1.0, smoothing = 0.1)
      .select(col("source"), col("n_docs"), col("mean_excess"), col("weight"))
      .as[(String, Long, Double, Double)].collect().sortBy(_._1)

    // hand-computed: uniform prior 1/3; un = exp(λ)/3 for λ = (2.0, 0.5, 0)
    val un = Seq(math.exp(2.0), math.exp(0.5), math.exp(0.0)).map(_ / 3.0)
    val z = un.sum
    val exp = un.map(u => 0.9 * u / z + 0.1 / 3.0)
    out.zip(exp).foreach { case ((_, _, _, w), e) => assert(math.abs(w - e) < 1e-12) }
    assert(out.map(_._2).toSeq === Seq(2L, 2L, 2L))
    assert(math.abs(out(0)._3 - 2.0) < 1e-12 && math.abs(out(2)._3 + 1.0) < 1e-12)
    assert(math.abs(out.map(_._4).sum - 1.0) < 1e-12, "weights sum to 1")
    assert(out(0)._4 > out(1)._4 && out(1)._4 > out(2)._4, "ordered by excess")

    // a prior reweights multiplicatively: doubling a's prior doubles its
    // unnormalized mass relative to the uniform run
    val withPrior = Sampling.doremiStep(docs, col("src"), col("excess"),
        eta = 1.0, smoothing = 0.0,
        prior = Map("a" -> 2.0 / 3.0, "b" -> 1.0 / 6.0, "c" -> 1.0 / 6.0))
      .select(col("source"), col("weight")).as[(String, Double)].collect().toMap
    val unP = Seq(2.0 / 3.0 * math.exp(2.0), 1.0 / 6.0 * math.exp(0.5), 1.0 / 6.0)
    val zP = unP.sum
    assert(math.abs(withPrior("a") - unP(0) / zP) < 1e-12)
    assert(math.abs(withPrior("c") - unP(2) / zP) < 1e-12)

    // zero excess everywhere fixes the prior (smoothing off): the update
    // is a no-op at the optimum
    val flat = Sampling.doremiStep(
        docs.withColumn("excess", lit(0.0)), col("src"), col("excess"),
        eta = 1.0, smoothing = 0.0)
      .select(col("weight")).as[Double].collect()
    assert(flat.forall(w => math.abs(w - 1.0 / 3.0) < 1e-12))
  }

  test("mixture: temperature flattens source shares; keep-all rates keep all") {
    import graft.corpus.Sampling
    val docs = ((1 to 80).map(i => (i.toLong, "big")) ++
      (81 to 100).map(i => (i.toLong, "small"))).toDF("doc_id", "src")
    val out = Sampling.temperatureMixture(
        docs, col("doc_id"), col("src"), temperature = 2.0, targetFraction = 0.5)
      .select(col("src"), col("mix_rate"), col("mix_keep"))
      .as[(String, Double, Boolean)].collect()

    // closed form at τ=2: q ∝ √p; N=100, target 50. Emitted rates are
    // rounded to 6 significant figures (the oracle-parity hardening), so
    // compare at that resolution
    val (wb, ws) = (math.sqrt(0.8), math.sqrt(0.2))
    val rBig = 50.0 * (wb / (wb + ws)) / 80.0
    val rSmall = 50.0 * (ws / (wb + ws)) / 20.0
    assert(out.filter(_._1 == "big").forall(r => math.abs(r._2 - rBig) <= rBig * 1e-5))
    assert(out.filter(_._1 == "small").forall(r => math.abs(r._2 - rSmall) <= rSmall * 1e-5))
    assert(rSmall > 0.5 && 0.5 > rBig, "τ>1 up-weights the rare source")

    // τ=1 degenerates to the uniform fraction for every source
    val flat = Sampling.temperatureMixture(
        docs, col("doc_id"), col("src"), temperature = 1.0, targetFraction = 0.5)
      .select(col("mix_rate")).as[Double].collect()
    assert(flat.forall(r => math.abs(r - 0.5) < 1e-12))

    // a rate clamped at 1.0 keeps EVERY row of that source
    val all = Sampling.temperatureMixture(
        docs, col("doc_id"), col("src"), temperature = 2.0, targetFraction = 0.9)
      .filter(col("src") === "small")
      .select(col("mix_rate"), col("mix_keep")).as[(Double, Boolean)].collect()
    assert(all.forall(_._1 === 1.0) && all.forall(_._2) && all.length === 20)

    // deterministic: a second run reproduces the identical kept set
    val again = Sampling.temperatureMixture(
        docs, col("doc_id"), col("src"), temperature = 2.0, targetFraction = 0.5)
      .filter(col("mix_keep")).select(col("doc_id")).as[Long].collect().sorted
    val first = Sampling.temperatureMixture(
        docs, col("doc_id"), col("src"), temperature = 2.0, targetFraction = 0.5)
      .filter(col("mix_keep")).select(col("doc_id")).as[Long].collect().sorted
    assert(first.sameElements(again))
  }

  test("c4: line rules drop non-terminal/short/javascript lines, page rules gate") {
    val good = "This sentence is long enough and terminates properly."
    val docs = Seq(
      // 5 clean sentences → pass; the three bad lines vanish from clean_text
      (1L, Seq(good, good, good, good, good,
        "no terminal punctuation here",
        "Ok.",
        "Please enable JavaScript to view this page.").mkString("\n")),
      (2L, Seq(good, good, good, good).mkString("\n")), // only 4 sentences
      (3L, Seq(good, good, good, good, good, "function f() { return 1; }").mkString("\n")),
      (4L, (good + " ").repeat(5) + "But lorem ipsum dolor sit amet."),
      (5L, Seq(good, good, good, good, good, "the word spamword appears.").mkString("\n")),
      (6L, Seq(good, good, good, good, good, "spamwords is a different word.").mkString("\n")),
      (7L, "He said \"stop right there\"") // ends in closing quote → line kept
    ).toDF("doc_id", "text")
    val got = docs.select(col("doc_id"),
        TextStats.c4(col("text"), badWords = Seq("spamword")).as("c"))
      .select(col("doc_id"), col("c.*"))
      .as[(Long, String, Long, Long, Long, Boolean, Boolean, Boolean, Boolean)]
      .collect().map(r => r._1 -> r).toMap

    assert(got(1L)._2 === Seq(good, good, good, good, good).mkString("\n"),
      "bad lines removed, good lines re-joined in order")
    assert(got(1L)._3 === 8L && got(1L)._4 === 5L && got(1L)._5 === 5L)
    assert(got(1L)._9, "5 sentences, no page flags -> pass")
    assert(!got(2L)._9 && got(2L)._5 === 4L, "under 5 sentences -> fail")
    assert(got(3L)._7 && !got(3L)._9, "brace page flag")
    assert(got(4L)._6 && !got(4L)._9, "lorem ipsum page flag")
    assert(got(5L)._8 && !got(5L)._9, "bad word at word boundary")
    assert(!got(6L)._8, "substring inside a longer word does not match")
    assert(got(7L)._4 === 1L, "closing-quote terminal keeps the line")
  }

  test("word chunking: overlap continuity, full coverage, short docs emit whole") {
    import graft.corpus.Sampling
    val doc = (1 to 53).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, doc), (2L, "a b c")).toDF("doc_id", "text")
    val got = Sampling.chunkByWords(df, col("text"), chunkWords = 24, overlapWords = 4)
      .select(col("doc_id"), col("chunk_idx"), col("chunk_text"), col("chunk_words"))
      .as[(Long, Int, String, Int)].collect()
    val d1 = got.filter(_._1 == 1L).sortBy(_._2)
    // ceil((53-4)/20) = 3 chunks; last covers words 41..53
    assert(d1.map(_._2).toSeq === Seq(0, 1, 2))
    assert(d1(0)._3.startsWith("w1 ") && d1(0)._4 === 24)
    assert(d1(2)._3 === (41 to 53).map(i => s"w$i").mkString(" ") && d1(2)._4 === 13)
    // consecutive chunks share exactly the 4 overlap words
    val c0 = d1(0)._3.split(" ")
    val c1 = d1(1)._3.split(" ")
    assert(c0.takeRight(4).toSeq === c1.take(4).toSeq)
    // coverage: dropping each chunk's overlap prefix (except the first)
    // and concatenating rebuilds the document
    val rebuilt = (d1(0)._3.split(" ") ++
      d1.drop(1).flatMap(_._3.split(" ").drop(4))).mkString(" ")
    assert(rebuilt === doc)
    // short doc: one whole chunk
    val d2 = got.filter(_._1 == 2L)
    assert(d2.length === 1 && d2(0)._3 === "a b c" && d2(0)._4 === 3)
  }

  test("keepBest: highest score wins, ties break to min id, singletons survive") {
    val members = Seq(
      (1L, 1L, 5L), (1L, 2L, 9L), (1L, 3L, 9L), // tie at 9 -> id 2
      (10L, 10L, 1L))                            // singleton
      .toDF("cluster", "id", "score")
    val got = Dedup.keepBest(members, col("cluster"), col("id"), col("score"))
      .select("cluster_id", "keep_id", "keep_score", "n_members")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got === Seq((1L, 2L, 9L, 3L), (10L, 10L, 1L, 1L)))
  }

  test("perplexity buckets: cutoffs calibrate terciles, labels follow the score order") {
    import graft.corpus.LanguageModel
    val model = LanguageModel.charNgramCounts(
      docs.filter(col("lang") === "en"), col("text"), n = 3)
    val (c1, c2) = LanguageModel.perplexityCutoffs(
      docs, col("doc_id"), col("text"), model, n = 3)
    assert(c1 <= c2)
    val b = LanguageModel.perplexityBuckets(
      docs, col("doc_id"), col("text"), model, n = 3, cutoffs = (c1, c2))
      .select(col("bucket"), col("cross_entropy"))
      .as[(String, Double)].collect()
    val byBucket = b.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    // discrete-quantile cutoffs: each tercile within ±1 of n/3
    val n = b.length
    assert(math.abs(byBucket("head").length - n / 3) <= 1)
    // ordering: every head ce <= every middle ce <= every tail ce
    assert(byBucket("head").max <= byBucket("middle").min + 1e-12)
    assert(byBucket("middle").max <= byBucket("tail").min + 1e-12)
    // a doc too short to score lands in tail with null ce
    val short = Seq((1L, "ab")).toDF("doc_id", "text")
    val sb = LanguageModel.perplexityBuckets(
      short, col("doc_id"), col("text"), model, n = 3, cutoffs = (c1, c2))
      .select("bucket").as[String].head()
    assert(sb === "tail")
  }

  test("assemblePacks: pack order, boundary offsets, totals, utilization") {
    import graft.corpus.Sampling
    val d = Seq((1L, 5L), (2L, 3L), (3L, 4L)).toDF("doc_id", "sz")
    val packed = Sampling.packByBudget(
      d, shard = lit(0), size = col("sz"), order = col("doc_id"), budget = 8L)
    val got = Sampling.assemblePacks(packed,
      col("shard"), col("pack_id"), col("pack_pos"),
      col("doc_id"), col("sz"), budget = 8L)
      .select(col("pack_id").cast("long"), col("n_docs"), col("doc_ids"),
        col("boundaries"), col("total_tokens"), col("utilization"))
      .as[(Long, Int, Seq[Long], Seq[Long], Long, Double)]
      .collect().sortBy(_._1)
    // cumsum next-fit: cum 5,8,12 -> packs {1,2} and {3}
    assert(got.length === 2)
    val (p0, p1) = (got(0), got(1))
    assert(p0._2 === 2 && p0._3 === Seq(1L, 2L) &&
      p0._4 === Seq(0L, 5L, 8L) && p0._5 === 8L && p0._6 === 1.0)
    assert(p1._2 === 1 && p1._3 === Seq(3L) &&
      p1._4 === Seq(0L, 4L) && p1._5 === 4L && p1._6 === 0.5)
  }

  test("datasheet: per-source counts, token sums, quality rate, dup ratio") {
    val d = Seq(
      ("a", "x y", true), ("a", "x y", false), ("a", "p q r", true),
      ("b", "only doc", true))
      .toDF("src", "text", "q")
    val got = TextStats.datasheet(d, col("src"),
        words = size(split(col("text"), " ")),
        quality = col("q"), contentHash = Dedup.contentHash(col("text")))
      .select("source", "n_docs", "total_words", "mean_words",
        "quality_rate", "n_distinct", "dup_ratio")
      .as[(String, Long, Long, Double, Double, Long, Double)]
      .collect().sortBy(_._1)
    assert(got(0) === ("a", 3L, 7L, 7.0 / 3, 2.0 / 3, 2L, 1.0 - 2.0 / 3))
    assert(got(1) === ("b", 1L, 2L, 2.0, 1.0, 1L, 0.0))
  }

  test("unigram tokenizer: pinned Viterbi, whole-word pieces, EM monotone, id layout") {
    import graft.corpus.Unigram
    // hand-pinned Viterbi on a fixed model
    val m = Unigram.Model(Map(
      "ab" -> math.log(0.5), "a" -> math.log(0.2),
      "b" -> math.log(0.2), "c" -> math.log(0.1)), maxPieceLen = 2)
    assert(Unigram.encodeWord("abc", m).toSeq === Seq("ab", "c"))
    assert(Unigram.encodeWord("aab", m).toSeq === Seq("a", "ab"))
    assert(Unigram.encodeWord("xb", m).toSeq === Seq("x", "b"),
      "OOV char falls back to a single-char piece")

    // training on a tiny corpus: every frequent word collapses to ONE
    // piece at a generous budget, and retraining is bit-identical
    val docs = (0 until 50).map(i => (i.toLong, "hello world the spark engine"))
      .toDF("doc_id", "text")
    val model = Unigram.train(docs, col("text"), vocabSize = 64, maxPieceLen = 8)
    for (w <- Seq("hello", "world", "spark", "engine", "the"))
      assert(Unigram.encodeWord(w, model).toSeq === Seq(w), s"'$w' should be one piece")
    val model2 = Unigram.train(docs, col("text"), vocabSize = 64, maxPieceLen = 8)
    assert(model2.logProbs === model.logProbs, "deterministic retrain")

    // EM monotonicity from the trained point: more steps never lower the
    // corpus likelihood
    val words = Unigram.wordTableOf(docs, col("text"))
    var cur = model
    var ll = Unigram.likelihood(words, cur)
    for (_ <- 1 to 3) {
      cur = Unigram.emOnce(words, cur)._1
      val next = Unigram.likelihood(words, cur)
      assert(next >= ll - 1e-9, s"EM lowered likelihood: $ll -> $next")
      ll = next
    }

    // scan-stage columns: pieces and ids; OOV chars map to <unk>=0
    val v = Unigram.vocab(model)
    assert(v("<unk>") === 0)
    val got = Seq((1L, "hello spark"), (2L, "zzz"))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        Unigram.encode(col("text"), model).as("toks"),
        Unigram.encodeIds(col("text"), model, v).as("ids"))
      .as[(Long, Seq[String], Seq[Int])].collect().map(r => r._1 -> r).toMap
    assert(got(1L)._2 === Seq("hello", "spark"))
    assert(got(1L)._3 === Seq(v("hello"), v("spark")))
    assert(got(2L)._2.nonEmpty && got(2L)._3.forall(_ === 0),
      "unseen-character word segments to <unk> ids")
  }

  test("LSH planner: steepest feasible s-curve within the hash budget") {
    import graft.corpus.Dedup
    def recall(j: Double, r: Int, b: Int) = 1.0 - math.pow(1.0 - math.pow(j, r), b)
    val (n, r) = Dedup.planLsh(0.5, 0.95, 256)
    assert(n % r === 0 && n <= 256)
    assert(recall(0.5, r, n / r) >= 0.95)
    // r is the LARGEST feasible row count: r+1 cannot clear the floor
    // even spending the whole hash budget on bands
    val bMax = 256 / (r + 1)
    assert(bMax === 0 || recall(0.5, r + 1, bMax) < 0.95)
    // minimal b at the chosen r (one fewer band misses the floor)
    assert(n / r === 1 || recall(0.5, r, n / r - 1) < 0.95)
    // the fixture design point: a 16-hash plan at the measured 0.889
    // jaccard floor must clear 0.999 recall (the 8x2 scheme's regime)
    val (n2, r2) = Dedup.planLsh(0.889, 0.999, 16)
    assert(n2 <= 16 && recall(0.889, r2, n2 / r2) >= 0.999)
    intercept[IllegalArgumentException](Dedup.planLsh(0.01, 0.999, 4))
  }

  test("BFD packing: strict capacity, dense ids, utilization >= first-fit") {
    import graft.corpus.Sampling
    // deterministic "random" lengths (content-derived, the repo's rule):
    // md5-driven sizes 1..511, plus one oversized and one zero-size doc
    def rnd(i: Int): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"bfd:$i".getBytes("UTF-8"))
      1L + ((d(0) & 0xff).toLong * 2L) // 1..511
    }
    val budget = 512L
    val sizes = (0 until 400).map(i => (i.toLong, rnd(i))) :+
      (400L, 900L) :+ (401L, 0L)
    val df = sizes.toDF("doc_id", "sz")
    val got = Sampling.packByBudgetBfd(
      df, pmod(col("doc_id"), lit(3)), col("sz"), col("doc_id"), budget)
      .select(col("doc_id"), col("shard").cast("long"), col("pack_id"),
        col("pack_pos"), col("sz"))
      .as[(Long, Long, Long, Int, Long)].collect()

    // every doc assigned exactly once
    assert(got.map(_._1).sorted.toSeq === sizes.map(_._1).sorted)
    val byPack = got.groupBy(r => (r._2, r._3))
    // strict capacity for every pack whose docs all fit the budget
    byPack.foreach { case ((sh, pid), rows) =>
      if (rows.forall(_._5 <= budget))
        assert(rows.map(_._5).sum <= budget, s"pack ($sh,$pid) overruns")
      // pack_pos is 1..k within the pack
      assert(rows.map(_._4).sorted.toSeq === (1 to rows.length).toSeq)
    }
    // the oversized doc sits alone in its pack
    val big = got.find(_._1 === 400L).get
    assert(byPack((big._2, big._3)).length === 1)
    // dense pack ids from 0 per shard
    got.groupBy(_._2).foreach { case (sh, rows) =>
      val ids = rows.map(_._3).distinct.sorted
      assert(ids.toSeq === (0L until ids.length).toSeq, s"shard $sh ids not dense")
    }
    // utilization >= strict first-fit (visit order = doc_id asc) on the
    // same shards: fewer-or-equal packs for these deterministic lengths
    def firstFitPacks(rows: Seq[(Long, Long)]): Int = {
      val rem = scala.collection.mutable.ArrayBuffer.empty[Long]
      rows.sortBy(_._1).foreach { case (_, sz) =>
        rem.indexWhere(_ >= sz) match {
          case -1 => rem += (budget - sz)
          case i  => rem(i) -= sz
        }
      }
      rem.length
    }
    sizes.groupBy(s => s._1 % 3).foreach { case (sh, rows) =>
      val bfd = got.filter(_._2 === sh).map(_._3).distinct.length
      val ff = firstFitPacks(rows)
      assert(bfd <= ff, s"shard $sh: BFD $bfd packs > first-fit $ff")
    }
  }

  test("BFD packing: a filter on an input column does not reach below the packer") {
    import graft.corpus.Sampling
    val df = (0 until 200).map(i => (i.toLong, 1L + (i * 37 % 300).toLong)).toDF("doc_id", "sz")
    val packed = Sampling.packByBudgetBfd(
      df, pmod(col("doc_id"), lit(3)), col("sz"), col("doc_id"), 512L)
    val want = packed.collect().filter(_.getAs[Long]("doc_id") > 100L).toSet
    assert(want.nonEmpty)
    assert(packed.filter(col("doc_id") > 100L).collect().toSet === want)
  }

  test("epochPlan: proportional when uncapped; capped sources water-fill the rest") {
    import graft.corpus.Sampling
    // uncapped: e_s = B·w_s / tok_s (weights already normalized)
    val flat = Sampling.epochPlan(
      Map("a" -> 100L, "b" -> 400L), Map("a" -> 0.5, "b" -> 0.5),
      budget = 400L, maxEpochs = 4.0)
    assert(math.abs(flat("a") - 2.0) < 1e-9 && math.abs(flat("b") - 0.5) < 1e-9)

    // capped: a alone would get 1000·0.5/10 = 100 epochs → fixed at 4
    // (consuming 40 tokens), the remaining 1960 all water-fills b
    val wf = Sampling.epochPlan(
      Map("a" -> 10L, "b" -> 1000L), Map("a" -> 0.5, "b" -> 0.5),
      budget = 2000L, maxEpochs = 4.0)
    assert(wf("a") === 4.0)
    assert(math.abs(wf("b") - 1.96) < 1e-6, s"water-filled b = ${wf("b")}")

    // zero-weight and zero-token sources plan 0 epochs
    val z = Sampling.epochPlan(
      Map("a" -> 100L, "b" -> 100L, "c" -> 0L),
      Map("a" -> 1.0, "b" -> 0.0, "c" -> 1.0), budget = 100L)
    assert(z("b") === 0.0 && z("c") === 0.0 && math.abs(z("a") - 1.0) < 1e-9)

    // cascading caps: fixing one source pushes another over the cap
    val casc = Sampling.epochPlan(
      Map("a" -> 10L, "b" -> 50L, "c" -> 10000L),
      Map("a" -> 0.4, "b" -> 0.3, "c" -> 0.3),
      budget = 3000L, maxEpochs = 4.0)
    assert(casc("a") === 4.0 && casc("b") === 4.0)
    // 3000 − 40 − 200 = 2760 tokens left for c
    assert(math.abs(casc("c") - 0.276) < 1e-6)
  }

  test("upsampleEpochs: integer epochs copy exactly; fractional part is the md5 rule") {
    import graft.corpus.Sampling
    val d = ((1 to 40).map(i => (i.toLong, "dup")) ++
      (41 to 80).map(i => (i.toLong, "frac")) ++
      (81 to 90).map(i => (i.toLong, "gone"))).toDF("doc_id", "src")

    val out = Sampling.upsampleEpochs(
        d, col("doc_id"), col("src"), Map("dup" -> 2.0, "frac" -> 1.5))
      .select(col("doc_id"), col("src"), col("copy_idx"), col("n_epochs"))
      .as[(Long, String, Int, Double)].collect()

    // e = 2.0: every doc exactly twice, copies 0 and 1
    val dup = out.filter(_._2 == "dup")
    assert(dup.length === 80)
    assert(dup.groupBy(_._1).forall(_._2.map(_._3).sorted.sameElements(Seq(0, 1))))

    // e = 1.5: copy 0 always; copy 1 iff the md5 draw clears 0.5 —
    // recompute the rule row by row
    val frac = out.filter(_._2 == "frac")
    assert(frac.count(_._3 == 0) === 40)
    val thr = Sampling.thresholdHex(0.5)
    val expectExtra = (41 to 80).filter { i =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"epoch:$i:1".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      hex < thr
    }.map(_.toLong).toSet
    assert(frac.filter(_._3 == 1).map(_._1).toSet === expectExtra)
    assert(expectExtra.nonEmpty && expectExtra.size < 40, "fractional draw is non-trivial")

    // sources absent from the plan emit nothing; n_epochs rides along
    assert(out.forall(_._2 != "gone"))
    // n_epochs is the roundSig6-rounded plan value (ulp-level wobble is
    // by design — see Sampling.roundSig6d)
    assert(frac.forall(r => math.abs(r._4 - 1.5) < 1e-9))

    // deterministic: a rerun reproduces the identical multiset
    val again = Sampling.upsampleEpochs(
        d, col("doc_id"), col("src"), Map("dup" -> 2.0, "frac" -> 1.5))
      .select(col("doc_id"), col("copy_idx")).as[(Long, Int)].collect().sorted
    assert(again.sameElements(out.map(r => (r._1, r._3)).sorted))
  }

  test("softDedup: every doc kept, weight = n_members^-beta over the near-dup clusters") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val d = Seq(
      (1L, base), (2L, base), (3L, base), // exact-dup cluster of 3
      (4L, "completely different text about spark physical plans here"),
      (5L, "another unrelated document body with its own words entirely"))
      .toDF("doc_id", "text")
    val out = Dedup.softDedup(d, col("doc_id"), col("text"), beta = 0.5)
      .select(col("doc_id"), col("cluster_id"), col("n_members"), col("weight"))
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)

    assert(out.map(_._1).toSeq === Seq(1L, 2L, 3L, 4L, 5L), "nothing is dropped")
    val trio = out.filter(_._1 <= 3L)
    assert(trio.forall(_._2 == 1L) && trio.forall(_._3 == 3L))
    assert(trio.forall(r => math.abs(r._4 - math.pow(3.0, -0.5)) < 1e-12))
    assert(out.filter(_._1 >= 4L).forall(r =>
      r._3 == 1L && r._4 === 1.0 && r._2 == r._1), "singletons weigh 1.0")

    // beta = 1: each cluster contributes ONE document-equivalent in total
    val mass = Dedup.softDedup(d, col("doc_id"), col("text"), beta = 1.0)
      .groupBy(col("cluster_id")).agg(sum(col("weight")).as("m"))
      .select(col("m")).as[Double].collect()
    assert(mass.length === 3 && mass.forall(m => math.abs(m - 1.0) < 1e-12))
  }

  test("dHash: real PNG roundtrip, local edit flips few bits, banded pairs catch it") {
    import graft.corpus.Multimodal
    val d = Seq(
      (1L, "alpha text sample", false),
      (2L, "alpha text sample", true), // same geometry, corner-edited
      (3L, "completely different doc zzz", false))
      .toDF("doc_id", "text", "p")
    val hashes = Multimodal.dHash(Multimodal.withGradientPng(d, "text", "p"))
    val h = hashes.select("doc_id", "dhash").as[(Long, String)].collect().toMap
    assert(h.values.forall(s => s.length == 64 && s.forall(c => c == '0' || c == '1')))
    val ham12 = h(1L).zip(h(2L)).count { case (a, b) => a != b }
    assert(ham12 > 0 && ham12 <= 6, s"corner edit should move 1-6 bits, moved $ham12")
    val pairs = Multimodal.dhashPairs(hashes, col("doc_id"), col("dhash"),
        maxHamming = 6, bands = 8)
      .as[(Long, Long, Int)].collect().toSet
    assert(pairs.contains((1L, 2L, ham12)), s"banded join must catch the edited pair: $pairs")
    // rerun-deterministic (real encode+decode path, no rand anywhere)
    val h2 = Multimodal.dHash(Multimodal.withGradientPng(d, "text", "p"))
      .select("doc_id", "dhash").as[(Long, String)].collect().toMap
    assert(h2 === h)
  }

  test("readability: hand-counted sentences/syllables and the FK formula") {
    val d = Seq(
      (1L, "The cat sat. The dog ran! Did it rain? unterminated tail"),
      (2L, "Simple. Words."),
      (3L, "")).toDF("doc_id", "text")
    val got = d.select(col("doc_id"),
        graft.corpus.TextStats.readability(col("text")).as("r"))
      .select("doc_id", "r.n_sentences", "r.n_words", "r.n_syllables", "r.fk_grade")
      .as[(Long, Long, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    // doc 1: 4 sentences (3 terminated + the unterminated tail), 11 words
    assert(got(1L)._2 === 4L)
    assert(got(1L)._3 === 11L)
    // doc 2: 2 sentences, 2 words, syllables: sim-ple? vowel groups: i,e=2; o=1
    assert(got(2L)._2 === 2L && got(2L)._3 === 2L && got(2L)._4 === 3L)
    val g2 = got(2L)._5.get
    assert(math.abs(g2 - (0.39 * (2.0 / 2.0) + 11.8 * (3.0 / 2.0) - 15.59)) < 1e-12)
    // empty text: 0 everything, NULL grade
    assert(got(3L) === ((3L, 0L, 0L, 0L, None)))
  }

  test("contrastivePairs: both-direction positives, negatives never self, deterministic") {
    import graft.corpus.Similarity
    val trip = Similarity.contrastivePairs(docs, col("doc_id"), col("text"), buckets = 16)
      .as[(Long, Long, Long)].collect()
    assert(trip.nonEmpty)
    // every near-dup pair anchors in both directions
    val anchorPairs = trip.map(t => (t._1, t._2)).toSet
    assert(anchorPairs.map { case (a, p) => (p, a) }.subsetOf(anchorPairs))
    // a negative is never the anchor itself
    assert(trip.forall(t => t._3 != t._1))
    // deterministic across reruns
    val trip2 = Similarity.contrastivePairs(docs, col("doc_id"), col("text"), buckets = 16)
      .as[(Long, Long, Long)].collect()
    assert(trip2.sorted.toSeq === trip.sorted.toSeq)
  }

  test("audioEnvelopeHash: real WAV/AIFF PCM decode, 32 bits, deterministic") {
    import graft.corpus.Multimodal
    // even code-point count -> wav mono; odd -> aiff stereo (geometry rule)
    val d = Seq((1L, "12345678"), (2L, "123456789")).toDF("doc_id", "text")
    def run() = Multimodal.audioEnvelopeHash(Multimodal.withAudioPayload(d, "text"))
      .select("doc_id", "ahash").as[(Long, String)].collect().toMap
    val h = run()
    assert(h.values.forall(s => s.length == 32 && s.forall(c => c == '0' || c == '1')),
      s"expected 32-bit hashes, got $h")
    assert(h === run(), "hash is rerun-deterministic")
    // garbage payload hashes to empty
    val g = Multimodal.audioEnvelopeHash(
      Seq((1L, Array[Byte](1, 2, 3))).toDF("doc_id", "payload"))
      .select("ahash").as[String].head()
    assert(g === "")
  }

  test("markdownStats: hand-counted structure signals") {
    val md = "# Title\n## Sub\n- a\n- b\n1. c\n```\nx = 1;\ny = 2;\nz = 3;\nif (a) { b(); }\n```\n[l](http://x) plain [m](y)\n    indented code\n\tmore"
    val got = Seq(Tuple1(md)).toDF("t")
      .select(graft.corpus.TextStats.markdownStats(col("t")).as("m"))
      .select("m.n_headings", "m.n_code_fences", "m.n_list_items",
        "m.n_links", "m.code_like")
      .as[(Int, Int, Int, Int, Int)].head()
    // 2 headings, 1 fence pair, 3 list items, 2 links;
    // code vote: braces + 3 ';'-lines + indented(2 < 3 -> no) = 2
    assert(got === ((2, 1, 3, 2, 2)))
  }

  test("containmentPairs: quote contained in source flags one direction only") {
    val d = Seq(
      (1L, "a b c d e f g h"), // 6 shingles
      (2L, "a b c d"),         // 2 shingles, both in doc 1
      (3L, "x y z w")).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(d, col("doc_id"), col("text"),
        shingleK = 3, threshold = 0.8)
      .as[(Long, Long, Double)].collect().toSet
    // C(2->1) = 2/2 = 1.0 flagged; C(1->2) = 2/6 stays under; 3 untouched
    assert(got === Set((2L, 1L, 1.0)))
  }

  test("tfidfKeywords: hand-computed idf ordering with rounded scores") {
    val d = Seq(
      (1L, "apple apple banana"),
      (2L, "banana cherry"),
      (3L, "cherry cherry cherry")).toDF("doc_id", "text")
    val got = TextStats.tfidfKeywords(d, col("doc_id"), col("text"), k = 2)
      .select("doc_id", "tok", "tfidf", "kw_rank")
      .as[(Long, String, Double, Int)].collect()
      .map(r => (r._1, r._4) -> (r._2, r._3)).toMap
    // df: apple 1, banana 2, cherry 2; N = 3
    // d1: apple 2*ln(4/2)=1.38629 > banana ln(4/3)=0.287682
    assert(got((1L, 1))._1 === "apple")
    assert(math.abs(got((1L, 1))._2 - 2 * math.log(2.0)) < 1e-4)
    assert(got((1L, 2))._1 === "banana")
    // d3: cherry 3*ln(4/3)=0.863046
    assert(got((3L, 1))._1 === "cherry")
    assert(math.abs(got((3L, 1))._2 - 3 * math.log(4.0 / 3.0)) < 1e-4)
  }

  test("clusterStats: power-of-two buckets by integer compare, counts add up") {
    // cluster sizes 1,1,2,3,5,9 -> buckets 1:{1,1} 2:{2,3} 4:{5} 8:{9}
    val members = Seq(
      (10L, "a"), (11L, "b"),
      (20L, "c"), (21L, "c"),
      (30L, "d"), (31L, "d"), (32L, "d"),
      (40L, "e"), (41L, "e"), (42L, "e"), (43L, "e"), (44L, "e"),
      (50L, "f"), (51L, "f"), (52L, "f"), (53L, "f"), (54L, "f"),
      (55L, "f"), (56L, "f"), (57L, "f"), (58L, "f"))
      .toDF("member_id", "cluster_id")
    val got = Dedup.clusterStats(members)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got === Map(1L -> (2L, 2L), 2L -> (2L, 5L), 4L -> (1L, 5L), 8L -> (1L, 9L)))
  }

  test("snapshotDiff: added/removed/changed/unchanged via normalized content hash") {
    import graft.corpus.Export
    val old = Seq((1L, "same"), (2L, "will change"), (3L, "gone"))
      .toDF("doc_id", "text")
    val cur = Seq((1L, "  SAME "), (2L, "changed!"), (4L, "new"))
      .toDF("doc_id", "text")
    val got = Export.snapshotDiff(old, col("doc_id"), col("text"),
        cur, col("doc_id"), col("text"))
      .as[(Long, String)].collect().toMap
    // 1 differs only in case/padding -> the normalized hash calls it unchanged
    assert(got === Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
  }

  test("exemplars: k per stratum, rank dense, rerun-identical") {
    import graft.corpus.Sampling
    val d = (0 until 50).map(i => (i.toLong, if (i % 2 == 0) "a" else "b"))
      .toDF("doc_id", "source")
    def run() = Sampling.exemplars(d, col("doc_id"), col("source"), 4)
      .select("source", "doc_id", "exemplar_rank")
      .as[(String, Long, Int)].collect().sortBy(r => (r._1, r._3))
    val g1 = run()
    assert(g1.count(_._1 == "a") === 4 && g1.count(_._1 == "b") === 4)
    assert(g1.filter(_._1 == "a").map(_._3).toSeq === Seq(1, 2, 3, 4))
    assert(g1.toSeq === run().toSeq, "seeded md5 order is rerun-stable")
  }
}
