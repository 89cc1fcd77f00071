package graft

import org.apache.spark.sql.functions._
import graft.text.TextOps
import graft.dedup.Dedup
import graft.sim.Similarity
import graft.multimodal.Multimodal
import graft.queries.PipelineQueries

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("tokenCount handles empty / padded strings") {
    val df = Seq("", "  ", "one", " a  b c ").toDF("text")
      .select(TextOps.tokenCount(col("text")).as("n"))
    assert(df.as[Long].collect().toSeq == Seq(0L, 0L, 1L, 3L))
  }

  test("bpe token count splits words and punctuation") {
    val n = Seq("Hello, world! v2.0").toDF("text")
      .select(TextOps.bpeTokenCount(col("text"))).as[Long].head()
    // Hello , world ! v 2 . 0
    assert(n == 8L)
  }

  test("langId identifies scripts and stopword profiles") {
    val samples = Seq(
      "the cat sat on the mat and it was good" -> "en",
      "der Hund ist nicht mit der Katze und dem Vogel" -> "de",
      "le chat est dans la maison avec le chien" -> "fr",
      "el perro es un animal y la casa es grande" -> "es",
      "这 是 一个 中文 句子" -> "zh")
    samples.foreach { case (text, expected) =>
      val got = Seq(text).toDF("text")
        .select(TextOps.langId(col("text"))).as[String].head()
      assert(got == expected, s"for '$text'")
    }
  }

  test("normalizeText: forms, accent strip, case fold") {
    def norm(s: String, form: String = "NFC", strip: Boolean = false,
             fold: Boolean = false) =
      Seq(s).toDF("t").select(
        TextOps.normalizeText(col("t"), form, strip, fold)).as[String].head()
    // decomposed e + combining acute == precomposed é under NFC
    assert(norm("Café") == "Café")
    // NFKC folds fullwidth compatibility characters
    assert(norm("ＡＢＣ", form = "NFKC") == "ABC")
    // accent strip removes combining marks, keeps base letters
    assert(norm("naïve Café Über", strip = true) == "naive Cafe Uber")
    // ß is a letter, not an accent — survives strip and fold
    assert(norm("straße", strip = true, fold = true) == "straße")
    assert(norm("HeLLo", fold = true) == "hello")
  }

  test("quality score ranges and orders sensibly") {
    val natural = "the cat is on the mat and it was good to see that it is"
    val spam = "buy!!! now!!! $$$ click,,,,,;;;;"
    val q = Seq(natural, spam).toDF("text")
      .select(TextOps.qualityScore(col("text"))).as[Double].collect()
    assert(q(0) > q(1))
    assert(q.forall(v => v >= 0.0 && v <= 1.0))
  }

  test("scrubPii redacts emails, phones and ssn-style ids, leaves prose") {
    val got = Seq("mail a.b+c@x-corp.io or 555-123-4567, ssn 123-45-6789; " +
      "v2.0 costs 12-34 dollars").toDF("text")
      .select(TextOps.scrubPii(col("text"))).as[String].head()
    assert(got == "mail <EMAIL> or <PHONE>, ssn <ID>; v2.0 costs 12-34 dollars")
  }

  test("repetitionRatio: distinct text 0, repeated text high, short docs 0") {
    val rows = Seq("a b c d", "spam spam spam spam", "x", "")
    val got = rows.toDF("text").select(
      TextOps.repetitionRatio(col("text"), 1).as("t1"),
      TextOps.repetitionRatio(col("text"), 2).as("t2"))
      .as[(Double, Double)].collect()
    assert(got(0) == (0.0, 0.0))
    assert(got(1)._1 == 0.75 && got(1)._2 == 1.0 - 1.0 / 3) // 3 identical bigrams
    assert(got(2) == (0.0, 0.0) && got(3) == (0.0, 0.0))
  }

  test("rolling fingerprint is edit-local") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val local = base.replace("kappa", "KAPPA") // tail edit
    val fps = Seq(base, base, local).toDF("text")
      .select(TextOps.rollingFingerprint(col("text"))).as[Long].collect()
    assert(fps(0) == fps(1)) // deterministic
  }
}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")

  test("exact dedup collapses planted verbatim copies") {
    val d = docs.select(col("doc_id"), col("text"))
    val planted = d.union(d.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val out = Dedup.exact(planted, "doc_id", "text")
    assert(out.count() == d.count())        // one group per original
    assert(out.where(col("dup_cnt") =!= 2).count() == 0)
    // winner is always the original (smaller) id
    assert(out.where(col("keep_id") >= 1000000L).count() == 0)
  }

  test("minhash LSH recovers planted near-dups with high recall") {
    val planted = PipelineQueries.plantedDocs(docs)
    val pairs = Dedup.minhashLsh(planted, "doc_id", "text",
      numHashes = 32, bands = 8, threshold = 0.5)
    val recovered = pairs
      .where(col("id_b") === col("id_a") + 1000000L).count()
    val total = docs.count()
    assert(recovered >= (total * 0.8).toLong,
      s"recall too low: $recovered / $total")
    // and no false positives below the threshold
    assert(pairs.where(col("jaccard") < 0.5).count() == 0)
  }

  test("simhash pairs find planted near-dups, hamming bounded") {
    val planted = PipelineQueries.plantedDocs(docs)
    val sims = Dedup.simhash(planted, "doc_id", "text")
    val pairs = Dedup.simhashPairs(sims, maxDist = 3)
    val recovered = pairs.where(col("id_b") === col("id_a") + 1000000L).count()
    assert(recovered >= (docs.count() * 0.5).toLong)
    assert(pairs.where(col("hamming") > 3).count() == 0)
  }

  test("ngram jaccard exact refine matches definition") {
    val df = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g x"),   // high overlap with 1
      (3L, "z y x w v u t s")    // disjoint
    ).toDF("id", "text")
    val pairs = Dedup.ngramJaccard(df, "id", "text", n = 2,
      threshold = 0.3, maxDocFreq = 10).collect()
    assert(pairs.length == 1)
    assert(pairs.head.getLong(0) == 1L && pairs.head.getLong(1) == 2L)
  }

  test("embedding cosine PRODUCTION preset (6 bands) recovers planted " +
      "pairs with near-exact recall") {
    // the default preset is the production setting the bench times as
    // q_dedup_cosine_prod: at cosine ≈ 0.999 a pair misses all 6 bands
    // with (1-(1-.0143)^10)^6 ≈ 6e-6, so recall on the planted pairs is
    // statistically indistinguishable from 1; precision is structural
    // (exact cosine refine). Assert ≥ 0.99 — a band-math regression
    // (fewer effective bands, broken bucketing) lands far below that.
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val planted = PipelineQueries.plantedVecs(emb)
    val pairs = Dedup.embeddingCosine(planted, "vec_id", "embedding",
      threshold = 0.999)
    val recovered = pairs.where(col("id_b") === col("id_a") + 1000000L).count()
    assert(recovered >= (emb.count() * 0.99).toLong,
      s"production-preset recall too low: $recovered of ${emb.count()}")
  }

  test("connected components converge on a chain far longer than maxIter") {
    // diameter 200 — plain neighbor-min propagation would need 200
    // rounds. Exercise BOTH paths: the driver union-find (default
    // threshold) and the distributed pointer-jumping iteration
    // (threshold 0), which must close the chain within maxIter=40
    val pairs = (0L until 200L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    Seq(5000000L, 0L).foreach { th =>
      val cc = Dedup.connectedComponents(pairs, maxIter = 40,
        driverEdgeThreshold = th).as[(Long, Long)].collect().toMap
      assert(cc.size == 201 && cc.values.forall(_ == 0L), s"threshold $th")
    }
  }

  test("connected components accept non-numeric ids (distributed path)") {
    // string ids must never hit the driver union-find (which casts to
    // long) — the type guard routes them to the iterative path
    val pairs = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs).as[(String, String)].collect().toMap
    assert(cc("a") == "a" && cc("b") == "a" && cc("c") == "a")
    assert(cc("x") == "x" && cc("y") == "x")
  }

  test("connected components collapse transitive chains") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    // the driver path, then the distributed path with every edge in one
    // partition (no residue) and with one edge per partition (the
    // cross-partition residue runs the label loop and the join-back)
    val cases = Seq(
      "driver" -> Dedup.connectedComponents(pairs),
      "one partition" -> Dedup.connectedComponents(pairs.coalesce(1),
        driverEdgeThreshold = 0L),
      "residue" -> Dedup.connectedComponents(spark.sparkContext
        .parallelize(Seq((1L, 2L), (2L, 3L), (10L, 11L)), 3)
        .toDF("id_a", "id_b"), driverEdgeThreshold = 0L))
    for ((name, ccDf) <- cases) {
      // the returned frame must READ a checkpoint — a plan that still
      // contains the label-propagation or join-back join would re-derive
      // it (and the convergence test would have paid it twice)
      assert(!ccDf.queryExecution.optimizedPlan.toString.contains("Join"),
        s"$name: result should scan the checkpoint, not recompute a join")
      val cc = ccDf.as[(Long, Long)].collect().toMap
      assert(cc(1L) == 1L && cc(2L) == 1L && cc(3L) == 1L, name)
      assert(cc(10L) == 10L && cc(11L) == 10L, name)
    }
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

  test("cosine of identical vectors is 1, orthogonal is 0") {
    val df = Seq(
      (Seq(1.0, 0.0), Seq(1.0, 0.0)),
      (Seq(1.0, 0.0), Seq(0.0, 1.0))).toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b")).as("c"))
    val got = df.as[Double].collect()
    assert(math.abs(got(0) - 1.0) < 1e-12 && math.abs(got(1)) < 1e-12)
  }

  test("native cosine Expression matches the HOF formulation bit-exactly") {
    val df = emb.select(col("embedding").cast("array<double>").as("v"),
      reverse(col("embedding").cast("array<double>")).as("w"))
    val both = df.select(
      Similarity.cosine(col("v"), col("w")).as("hof"),
      graft.functions.GraftFunctions.cosine(col("v"), col("w")).as("nat"))
    assert(both.where(col("hof") =!= col("nat")).count() == 0)
  }

  test("hardNegatives excludes same-label rows and ranks by cosine") {
    // anchor a0 (label 0) at (1,0); nearest overall is c1 (label 0, same
    // direction) which MUST be excluded; hard negatives are the
    // different-label rows ordered by angle: c2 closer than c3, c4
    // opposite
    val corpus = Seq(
      (1L, 0, Seq(0.9, 0.1)),   // same label — never a negative
      (2L, 1, Seq(0.8, 0.3)),   // closest different-label
      (3L, 1, Seq(0.1, 0.9)),   // near-orthogonal
      (4L, 2, Seq(-1.0, 0.0))). // opposite
      toDF("id", "label", "vec")
    val anchors = Seq((0L, 0, Seq(1.0, 0.0))).toDF("qid", "label", "vec")
    val got = Similarity.hardNegatives(corpus, anchors, k = 2)
      .orderBy("rank").select("id").as[Long].collect().toSeq
    assert(got == Seq(2L, 3L), s"got $got")
    // k beyond the different-label pool returns the whole pool, never a
    // same-label row
    val all = Similarity.hardNegatives(corpus, anchors, k = 10)
      .select("id").as[Long].collect().toSet
    assert(all == Set(2L, 3L, 4L))
  }

  test("groupCentroids: decimal-sum variant is partitioning-independent " +
      "and matches the ordered fold") {
    val base = emb.select((col("vec_id") % 8).as("grp"), col("vec_id"),
      col("embedding"))
    def collectC(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("grp").collect()
        .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Double]]("centroid"))
    val prod = collectC(Similarity.groupCentroids(base, "grp", "embedding"))
    val prod13 = collectC(
      Similarity.groupCentroids(base.repartition(13), "grp", "embedding"))
    // exact run-to-run/partitioning determinism (decimal sums)
    assert(prod.map(_._2.toSeq).toSeq == prod13.map(_._2.toSeq).toSeq)
    val ordered = collectC(
      Similarity.groupCentroidsOrdered(base, "grp", "embedding", "vec_id"))
    prod.zip(ordered).foreach { case ((g1, a), (g2, b)) =>
      assert(g1 == g2 && a.length == b.length)
      a.zip(b).foreach { case (x, y) =>
        assert(math.abs(x - y) < 1e-9, s"grp $g1: $x vs $y") }
    }
  }

  test("IVF top-k achieves reasonable recall vs brute force") {
    val queries = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("vec"))
    val corpus = emb.where(col("vec_id") >= 5)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val exact = Similarity.bruteForceTopK(corpus, queries, 10)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val approx = Similarity.ivfTopK(corpus, queries, 10, nCells = 16, nProbe = 8)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall $recall too low")
  }

  test("LSH top-k: selective candidate budget AND high recall on clustered data") {
    // plant 10 true near-neighbours per query (perturbed query copies) —
    // the regime ANN exists for; a uniform-random corpus has no
    // neighbours to recall, so selectivity and recall would trade off
    // vacuously there
    val queries = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").cast("array<double>").as("vec"))
    val organic = emb.where(col("vec_id") >= 5)
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))
    val rnd = new scala.util.Random(7)
    val plantedRows = queries.collect().flatMap { r =>
      val qid = r.getLong(0)
      val v = r.getSeq[Double](1).toArray
      (0 until 10).map { j =>
        (100000L + qid * 100 + j, v.map(_ + 0.02 * rnd.nextGaussian()).toSeq)
      }
    }.toSeq
    val corpus = organic.union(
      plantedRows.toDF("id", "vec").select(col("id"), col("vec")))
    val exact = Similarity.bruteForceTopK(corpus, queries, 10)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopK(corpus, queries, 10) // default 8 bands × 12 bits
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"LSH recall $recall too low")
    // the approximate path must stay approximate: candidates ≤ 10% of the
    // (query × corpus) space, or it is brute force with extra shuffles
    val cands = Similarity.lshCandidates(corpus, queries).count()
    val budget = 0.1 * corpus.count() * queries.count()
    assert(cands <= budget, s"LSH candidate set $cands exceeds 10% budget $budget")
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")

  test("synthetic assets carry payloads and modalities") {
    val assets = Multimodal.syntheticAssets(spark, docs)
    assert(assets.count() == docs.count())
    val mods = assets.select(col("modality")).distinct().as[String].collect().toSet
    assert(mods == Set("image", "audio", "video"))
  }

  test("batched decode is deterministic and partitioning-independent") {
    val assets = Multimodal.syntheticAssets(spark, docs)
    val a = Multimodal.decodeFeatures(assets).orderBy("id").collect()
    val b = Multimodal.decodeFeatures(assets.repartition(7)).orderBy("id").collect()
    assert(a.sameElements(b))
    assert(a.forall(_.getAs[Seq[Float]]("features").length == 8))
  }

  test("frame sampling emits one row per sampled frame, payload untouched") {
    val assets = Multimodal.syntheticAssets(spark, docs)
    val frames = Multimodal.sampleFrames(assets, everyMs = 1000L)
    val vids = assets.filter(_.modality == "video")
    val expected = vids.map(a => math.max(1L, a.durationMs / 1000L)).collect().sum
    assert(frames.count() == expected)
  }

  test("late-fetch reattaches payloads after metadata-only wide op") {
    val assets = Multimodal.syntheticAssets(spark, docs).toDF()
    val meta = assets.select(col("id"), col("modality"))
      .groupBy("modality").agg(collect_list("id").as("ids"))
      .select(explode(col("ids")).as("id"))
    val joined = Multimodal.lateFetch(meta, assets)
    assert(joined.where(col("payload").isNull).count() == 0)
  }

  // ---- REAL codecs (pure JDK: javax.imageio / javax.sound.sampled) -------

  /** Encode a solid-color PNG in memory. */
  private def pngBytes(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    try { g.setColor(new java.awt.Color(rgb)); g.fillRect(0, 0, w, h) }
    finally g.dispose()
    val out = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", out))
    out.toByteArray
  }

  /** Encode a mono 16-bit PCM WAV sine in memory. */
  private def wavBytes(sampleRate: Float, seconds: Double, freqHz: Double,
                       amplitude: Double): Array[Byte] = {
    val n = (sampleRate * seconds).toInt
    val pcm = new Array[Byte](n * 2)
    (0 until n).foreach { i =>
      val s = (amplitude * math.sin(2 * math.Pi * freqHz * i / sampleRate) *
        32767).toInt.toShort
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(sampleRate, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  test("REAL image decode: dims + channel means off true PNG bytes, distributed") {
    val assets = spark.createDataset(Seq(
      Multimodal.Asset(1L, "image", pngBytes(32, 16, 0xff0000), "png", 0, 0, 0L),
      Multimodal.Asset(2L, "image", pngBytes(8, 8, 0x00ff00), "png", 0, 0, 0L),
      Multimodal.Asset(3L, "image", pngBytes(4, 4, 0x406080), "png", 0, 0, 0L)))
      .repartition(3)
    val rows = Multimodal.decodeFeatures(assets, Multimodal.Decoder.Auto)
      .orderBy("id").collect()
    assert(rows(0).getInt(2) == 32 && rows(0).getInt(3) == 16)
    val f1 = rows(0).getAs[scala.collection.Seq[Float]]("features")
    assert(math.abs(f1(0) - 1f) < 1e-3 && f1(1) < 1e-3 && f1(2) < 1e-3) // solid red
    assert(math.abs(f1(4)) < 1e-3) // solid color → zero luma stddev
    val f3 = rows(2).getAs[scala.collection.Seq[Float]]("features")
    assert(math.abs(f3(0) - 0x40 / 255f) < 1e-3 &&
      math.abs(f3(1) - 0x60 / 255f) < 1e-3 && math.abs(f3(2) - 0x80 / 255f) < 1e-3)
  }

  test("REAL image resize: payload re-encoded, round-trips at the new dims") {
    val assets = spark.createDataset(Seq(
      Multimodal.Asset(1L, "image", pngBytes(64, 32, 0x123456), "png", 64, 32, 0L),
      Multimodal.Asset(2L, "audio", wavBytes(8000f, 0.1, 440, 0.5), "wav", 0, 0, 100L)))
    val resized = Multimodal.resizeImages(assets, 16, 16).collect()
    val img = resized.find(_.modality == "image").get
    val decoded = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(img.payload))
    assert(decoded.getWidth == 16 && decoded.getHeight == 16)
    // solid color survives bilinear resampling
    assert((decoded.getRGB(8, 8) & 0xffffff) == 0x123456)
    // non-image payloads pass through untouched
    val wav = resized.find(_.modality == "audio").get
    assert(wav.payload.sameElements(wavBytes(8000f, 0.1, 440, 0.5)))
  }

  test("REAL audio decode: sample rate, duration, RMS off true WAV bytes") {
    val amp = 0.5
    val assets = spark.createDataset(Seq(
      Multimodal.Asset(1L, "audio", wavBytes(16000f, 0.25, 440, amp), "wav", 0, 0, 0L)))
    val row = Multimodal.decodeFeatures(assets, Multimodal.Decoder.Auto).collect()(0)
    assert(row.getInt(2) == 16000 && row.getInt(3) == 1) // (sampleRate, channels)
    val f = row.getAs[scala.collection.Seq[Float]]("features")
    assert(math.abs(f(0) - 0.25f) < 1e-3) // duration sec
    assert(math.abs(f(1) - amp / math.sqrt(2)) < 0.01) // sine RMS = A/√2
    assert(math.abs(f(2) - amp) < 0.01) // peak
  }

  test("Auto decoder routes by magic bytes and falls back to Fake for video") {
    val payload = "not-a-real-container".getBytes("UTF-8")
    val (aw, ah, af) = Multimodal.Decoder.Auto.decode(payload)
    val (fw, fh, ff) = Multimodal.Decoder.Fake.decode(payload)
    assert(aw == fw && ah == fh && af.sameElements(ff))
  }

  test("Auto decoder survives sniff false positives (BM-prefixed text)") {
    // starts with 'BM' so the sniff routes to ImageIO, which cannot
    // decode it — the router must fall back to Fake, not crash the task
    val payload = "BMW sells cars, not bitmaps".getBytes("UTF-8")
    val (aw, ah, af) = Multimodal.Decoder.Auto.decode(payload)
    val (fw, fh, ff) = Multimodal.Decoder.Fake.decode(payload)
    assert(aw == fw && ah == fh && af.sameElements(ff))
  }
}

class QuantizeSpec extends SparkSpec {
  import spark.implicits._
  import graft.sim.Quantize
  import org.apache.spark.sql.types.{ArrayType, DoubleType}

  test("int8 round-trip reconstruction error is bounded by vscale/2") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("v"))
    val q = emb.select(col("v"), Quantize.int8(col("v")).as("q"))
    val worst = q.select(
        aggregate(zip_with(col("v"), Quantize.dequantInt8(col("q")),
          (a, b) => abs(a - b)), lit(0.0), (acc, x) => greatest(acc, x))
          .as("err"),
        col("q.vscale").as("s"))
      .where(col("err") > col("s") / 2 + lit(1e-12))
    assert(worst.count() == 0)
  }

  test("codes are TRUE int8 (tinyint storage); levels span 0..255") {
    val df = Seq(Seq(-4.0, 0.0, 1.0, 6.0)).toDF("v")
      .select(Quantize.int8(col("v")).as("q"))
    // storage type is byte — the 4x-over-float claim depends on it
    assert(df.schema("q").dataType.asInstanceOf[
      org.apache.spark.sql.types.StructType]("codes").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.ByteType, containsNull = false))
    val codes = df.select(col("q.codes")).as[Seq[Byte]].head()
    val levels = codes.map(_.toInt + 128)
    assert(levels.head == 0 && levels.last == 255)
    assert(levels.forall(c => c >= 0 && c <= 255))
  }

  test("constant vectors quantize to level-zero codes with vscale 0") {
    val df = Seq(Seq(3.0, 3.0, 3.0)).toDF("v")
      .select(Quantize.int8(col("v")).as("q"))
    val r = df.select(col("q.vscale"), col("q.codes")).head()
    assert(r.getDouble(0) == 0.0)
    assert(r.getSeq[Byte](1).forall(_ == -128)) // level 0
  }
}

class DecontaminateSpec extends SparkSpec {
  import spark.implicits._
  import graft.text.Decontaminate

  // bench doc 1: ten tokens -> 8-grams {a..h, b..i, c..j}; bench doc 2:
  // short doc, collapses to the whole-doc gram "k l m"
  private def bench = Seq(
    (1L, "a b c d e f g h i j"),
    (2L, "k l m")).toDF("bid", "btext")

  private def corpus = Seq(
    (10L, "x y a b c d e f g h z"), // embeds one bench 8-gram
    (11L, "p q r s t u v w x y z w v u t s r q p"), // clean
    (12L, "k l m"), // short doc, exact whole-text match of bench 2
    (13L, "k l m n o p q r s")) // contains k..m only inside longer grams
    .toDF("doc_id", "text")

  test("report flags exact n-gram overlap, counts grams and bench docs") {
    val out = Decontaminate.report(corpus, "doc_id", "text",
      bench, "bid", "btext", n = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out == Map(10L -> (1L, 1L), 12L -> (1L, 1L)))
  }

  test("minHits threshold suppresses single-gram overlaps") {
    val out = Decontaminate.report(corpus, "doc_id", "text",
      bench, "bid", "btext", n = 8, minHits = 2L)
    assert(out.count() == 0)
  }

  test("clean removes exactly the flagged docs") {
    val kept = Decontaminate.clean(corpus, "doc_id", "text",
      bench, "bid", "btext", n = 8)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(11L, 13L))
  }

  test("benchmark side is broadcast (no corpus-side shuffle for the join)") {
    val plan = Decontaminate.report(corpus, "doc_id", "text",
      bench, "bid", "btext", n = 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"), plan)
  }

  test("clean's anti-join carries no forced broadcast hint (worst case: " +
    "flagged is O(corpus)) and survives a majority-contaminated corpus") {
    // every doc except one embeds a bench gram -> flagged ~ corpus-sized
    val big = (0L until 50L).map(i => (i, s"a b c d e f g h tail$i"))
      .toDF("doc_id", "text")
      .union(Seq((99L, "p q r s t u v w x y z a1 b2 c3")).toDF("doc_id", "text"))
    val cleaned = Decontaminate.clean(big, "doc_id", "text",
      bench, "bid", "btext", n = 8)
    assert(cleaned.select("doc_id").as[Long].collect().toSet == Set(99L))
    // the anti-join itself must carry no broadcast hint on the flagged
    // side (report's bench-gram broadcast deeper in the tree is fine);
    // AQE may still CHOOSE broadcast from runtime stats
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val anti = cleaned.queryExecution.optimizedPlan.collectFirst {
      case j: Join if j.joinType == LeftAnti => j
    }.get
    assert(anti.hint.rightHint.isEmpty, anti.hint)
  }
}
