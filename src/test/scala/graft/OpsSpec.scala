package graft

import graft.ops.{DedupOps, MultimodalOps, SimilarityOps, TextOps}
import graft.pipeline.Pipeline

/** Unit tests for the training-data ops whose semantics are not
  * SQL-oracle-able: planted near-duplicates must be found by MinHash-LSH /
  * SimHash, LSH ANN must agree with brute force on shared candidates, and
  * the multimodal decode plumbing must round-trip its metadata. */
class OpsSpec extends SparkSpecBase {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private def plantedDocs = {
    val base = (0L until 60L).map { i =>
      val words = (0 until 40).map(j => s"w${(i * 31 + j * 7) % 97}").mkString(" ")
      (i, words)
    }
    // plant near-dups: docs 100+i = copy of doc i with one word changed
    val dups = (0L until 10L).map { i =>
      val orig = base(i.toInt)._2.split(' ')
      (100L + i, (orig.take(orig.length - 1) :+ "CHANGED").mkString(" "))
    }
    // plant one exact dup
    val exact = Seq((200L, base(0)._2))
    (base ++ dups ++ exact).toDF("doc_id", "text")
  }

  test("minhash LSH finds planted near-duplicates") {
    val cands = DedupOps.minhashCandidates(plantedDocs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    for (i <- 0L until 10L)
      assert(cands.contains((i, 100L + i)), s"planted pair ($i, ${100 + i}) not found")
    assert(cands.contains((0L, 200L)), "exact dup not found")
    // sanity: not everything is a candidate
    assert(cands.size < 71 * 70 / 4, s"too many candidates: ${cands.size}")
  }

  test("simhash pairs find planted near-duplicates at small hamming") {
    val pairs = DedupOps.simhashPairs(plantedDocs, maxHamming = 12).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = (0L until 10L).count(i => pairs.contains((i, 100L + i)))
    assert(found >= 8, s"only $found/10 planted pairs found by simhash")
    assert(pairs.contains((0L, 200L)), "exact dup must have hamming 0")
  }

  test("ngram jaccard scores planted dups near 1000 and exact at 1000") {
    val pairs = DedupOps.ngramJaccardPairs(plantedDocs, thresholdX1000 = 800).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(3))).toMap
    assert(pairs((0L, 200L)) == 1000L)
    for (i <- 1L until 10L) assert(pairs.get((i, 100L + i)).exists(_ >= 800L))
  }

  test("ngram pair sets are identical under the hash and string shuffle keys") {
    def asMap(hashKey: Boolean) =
      DedupOps.ngramJaccardPairs(plantedDocs, thresholdX1000 = 500, hashShuffleKey = hashKey)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3)))).toMap
    val hashed = asMap(hashKey = true)
    val strung = asMap(hashKey = false)
    assert(hashed == strung,
           s"key-choice changed the result: only-hash=${hashed.keySet -- strung.keySet} " +
             s"only-string=${strung.keySet -- hashed.keySet}")
    assert(hashed.nonEmpty)
  }

  test("LSH ANN agrees with brute force on returned candidates") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val brute = SimilarityOps.bruteForceTopK(emb, nQueries = 4, k = 200).collect()
      .map(r => ((r.getLong(0), r.getLong(2)), r.getLong(3))).toMap
    val lsh = SimilarityOps.lshTopK(emb, nQueries = 4, k = 10, nPlanes = 4).collect()
    assert(lsh.nonEmpty)
    // every LSH result's similarity equals the brute-force similarity
    for (r <- lsh) {
      val key = (r.getLong(0), r.getLong(2))
      assert(brute.get(key).forall(_ == r.getLong(3)),
             s"sim mismatch for $key: lsh=${r.getLong(3)} brute=${brute.get(key)}")
    }
  }

  test("multi-probe LSH recall >= 0.9 on planted neighbors at nPlanes=12") {
    def vec(seed: Long, dim: Int): Array[Float] = {
      var h = seed * 2654435761L
      Array.tabulate(dim) { _ =>
        h = h * 6364136223846793005L + 1442695040888963407L
        (((h >> 20) % 1000).toFloat / 500f) - 1f
      }
    }
    val base = (0L until 200L).map(i => (i, vec(i, 16)))
    // each query 0..19 gets a planted near-duplicate (tiny perturbation):
    // it straddles at most a plane or two, which single-bit multi-probe
    // must recover
    val planted = (0L until 20L).map { i =>
      val v = vec(i, 16).clone(); v(0) = v(0) + 0.01f; (1000L + i, v)
    }
    val emb = (base ++ planted).toDF("vec_id", "embedding")
    val res = SimilarityOps.lshTopK(emb, nQueries = 20, k = 5, nPlanes = 12, multiProbe = true)
      .collect()
    val found = (0L until 20L).count { i =>
      res.exists(r => r.getLong(0) == i && r.getLong(2) == 1000L + i)
    }
    assert(found >= 18, s"multi-probe recall $found/20 below 0.9")
    // exact-bucket-only is strictly weaker (sanity that the probes do work)
    val exact = SimilarityOps.lshTopK(emb, nQueries = 20, k = 5, nPlanes = 12, multiProbe = false)
      .collect()
    val foundExact = (0L until 20L).count { i =>
      exact.exists(r => r.getLong(0) == i && r.getLong(2) == 1000L + i)
    }
    assert(foundExact <= found, s"exact $foundExact > multiprobe $found")
  }

  test("IVF recall >= 0.9 on planted neighbors and sims agree with brute force") {
    def vec(seed: Long, dim: Int): Array[Float] = {
      var h = seed * 2654435761L
      Array.tabulate(dim) { _ =>
        h = h * 6364136223846793005L + 1442695040888963407L
        (((h >> 20) % 1000).toFloat / 500f) - 1f
      }
    }
    val base = (0L until 200L).map(i => (i, vec(i, 16)))
    // planted near-duplicates: a tiny perturbation keeps the nearest
    // centroid identical with overwhelming probability — the same cell's
    // inverted list must surface it
    val planted = (0L until 20L).map { i =>
      val v = vec(i, 16).clone(); v(0) = v(0) + 0.01f; (1000L + i, v)
    }
    val emb = (base ++ planted).toDF("vec_id", "embedding")
    val res = SimilarityOps.ivfTopK(emb, nQueries = 20, k = 5, nCentroids = 8, nProbe = 2)
      .collect()
    val found = (0L until 20L).count { i =>
      res.exists(r => r.getLong(0) == i && r.getLong(2) == 1000L + i)
    }
    assert(found >= 18, s"IVF recall $found/20 below 0.9")
    // every IVF similarity equals the brute-force similarity (rerank is exact)
    val brute = SimilarityOps.bruteForceTopK(emb, nQueries = 20, k = 200)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getLong(3))).toMap
    for (r <- res) {
      val key = (r.getLong(0), r.getLong(2))
      assert(brute.get(key).forall(_ == r.getLong(3)),
             s"sim mismatch for $key: ivf=${r.getLong(3)} brute=${brute.get(key)}")
    }
    // probing more lists can only improve or keep recall (monotonicity)
    val res1 = SimilarityOps.ivfTopK(emb, nQueries = 20, k = 5, nCentroids = 8, nProbe = 1)
      .collect()
    val found1 = (0L until 20L).count { i =>
      res1.exists(r => r.getLong(0) == i && r.getLong(2) == 1000L + i)
    }
    assert(found1 <= found, s"nProbe=1 recall $found1 > nProbe=2 recall $found")
  }

  test("IVF broadcast codebook: identical results to the literal path, O(1) plan") {
    def vec(seed: Long, dim: Int): Array[Float] = {
      var h = seed * 2654435761L
      Array.tabulate(dim) { _ =>
        h = h * 6364136223846793005L + 1442695040888963407L
        (((h >> 20) % 1000).toFloat / 500f) - 1f
      }
    }
    val emb = (0L until 150L).map(i => (i, vec(i, 16))).toDF("vec_id", "embedding")
    val literal = SimilarityOps.ivfTopK(emb, nQueries = 10, k = 5, nCentroids = 8)
    // force the broadcast path at the same centroid count
    val bcast = SimilarityOps.ivfTopK(emb, nQueries = 10, k = 5, nCentroids = 8,
                                      literalCodebookMax = 0)
    assert(bcast.collect().map(_.toSeq).toSet == literal.collect().map(_.toSeq).toSet,
           "broadcast-codebook IVF diverged from the literal path")
    // plan shape: the codebook rides a broadcast column, not plan literals
    val bPlan = bcast.queryExecution.executedPlan.toString()
    val lPlan = literal.queryExecution.executedPlan.toString()
    assert(bPlan.contains("_codebook"), bPlan.take(2000))
    assert(!lPlan.contains("_codebook"), lPlan.take(2000))
  }

  test("dedupClusters: components, keepers, long chains, and loud non-convergence") {
    // chain 1-2-3 plus isolated pair 10-11 → two clusters
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val got = DedupOps.dedupClusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got == Set((1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
                      (10L, 10L, true), (11L, 10L, false)), got.toString)
    // a 12-node chain: pointer jumping converges in ~log2(11) rounds
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("a", "b")
    val cc = DedupOps.dedupClusters(chain).collect()
    assert(cc.forall(_.getLong(1) == 1L), cc.mkString(","))
    assert(cc.count(_.getBoolean(2)) == 1)
    // non-convergence fails loudly instead of emitting wrong clusters:
    // 3 jumped rounds cover label distance ≤ 14 (d_k = 2·d_{k-1}+2),
    // short of a 40-node chain's diameter 39
    val longChain = (1L until 40L).map(i => (i, i + 1)).toDF("a", "b")
    intercept[IllegalArgumentException] {
      DedupOps.dedupClusters(longChain, maxIters = 3)
    }
    // ...but converges correctly under the default cap
    val lc = DedupOps.dedupClusters(longChain).collect()
    assert(lc.forall(_.getLong(1) == 1L) && lc.length == 40)
    // empty pair set → empty clusters (no iteration)
    assert(DedupOps.dedupClusters(Seq.empty[(Long, Long)].toDF("a", "b")).count() == 0)
  }

  test("media payload dedup groups identical bytes and keeps the min doc_id") {
    import graft.ops.MultimodalOps
    import graft.ops.MultimodalOps.MediaAsset
    val p1 = MultimodalOps.synthPayload("refA", "image")
    val p2 = MultimodalOps.synthPayload("refB", "video")
    val assets = Seq(
      MediaAsset("d2", "refA", "image", p1),
      MediaAsset("d1", "refA", "image", p1.clone()), // identical bytes, other doc
      MediaAsset("d3", "refB", "video", p2)).toDS()
    val got = MultimodalOps.dedupAssets(assets).collect()
      .map(r => (r.getString(0), r.getString(2), r.getLong(3))).toSet
    assert(got == Set(("image", "d1", 2L), ("video", "d3", 1L)), got.toString)
  }

  test("IVF on an empty corpus returns an empty result with the contract schema") {
    val emb = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val res = SimilarityOps.ivfTopK(emb)
    assert(res.columns.toSeq == Seq("query_id", "rank", "neighbor_id", "cos_x10000"))
    assert(res.count() == 0)
  }

  test("LSH embedding near-dup finds planted duplicates and agrees with brute force") {
    def vec(seed: Long, dim: Int): Array[Float] = {
      var h = seed * 2654435761L
      Array.tabulate(dim) { _ =>
        h = h * 6364136223846793005L + 1442695040888963407L
        (((h >> 20) % 1000).toFloat / 500f) - 1f
      }
    }
    val base = (0L until 150L).map(i => (i, vec(i, 16)))
    val dups = (0L until 15L).map { i =>
      val v = vec(i, 16).clone(); v(0) = v(0) + 0.01f; (1000L + i, v)
    }
    val emb = (base ++ dups).toDF("vec_id", "embedding")
    val got = DedupOps.embeddingNearDupsLsh(emb, thresholdX10000 = 9500, nPlanes = 8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val found = (0L until 15L).count(i => got.contains((i, 1000L + i)))
    assert(found >= 14, s"LSH near-dup recall $found/15")
    // similarities agree with the exact (label-free brute force) values
    import org.apache.spark.sql.functions._
    val brute = emb.select(col("vec_id"), col("embedding"), lit(0).as("label"))
    val exact = DedupOps.embeddingNearDups(brute, thresholdX10000 = 9500)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    for ((pair, c) <- got) assert(exact.get(pair).contains(c), s"$pair: lsh=$c exact=${exact.get(pair)}")
  }

  test("multimodal decode round-trips metadata through binary payloads") {
    val docs = Pipeline.synthDocs(spark, 50)
    val assets = MultimodalOps.mediaAssets(docs)
    val feats = MultimodalOps.extractFeatures(assets).collect()
    assert(feats.nonEmpty)
    assert(feats.forall(f => f.width >= 160 && f.height >= 120))
    assert(feats.filter(_.kind == "image").forall(_.n_frames == 1))
    assert(feats.filter(_.kind == "video").forall(_.n_frames >= 24))
    assert(feats.filter(_.kind == "audio").forall(_.sample_rate >= 8000))
    val stats = MultimodalOps.mediaStats(MultimodalOps.extractFeatures(assets)).collect()
    assert(stats.map(_.getString(0)).toSet.subsetOf(Set("image", "audio", "video")))
  }

  test("bigram LM fluency matches a brute-force model and handles unseen bigrams") {
    import graft.ops.TextOps
    val docs = Seq(
      (1L, "a b c a b"),          // bigrams: ab bc ca ab
      (2L, "a b a b a b"),        // ab ba ab ba ab
      (3L, "x"),                  // no bigrams
      (4L, "c a b c")             // ca ab bc
    ).toDF("doc_id", "text")
    // brute-force MLE model over the same corpus
    val toks = Seq("a b c a b", "a b a b a b", "x", "c a b c").map(_.split(" ").toSeq)
    val bigs = toks.flatMap(t => t.zip(t.drop(1)))
    val bc = bigs.groupBy(identity).map { case (k, v) => (k, v.size) }
    val uc = bigs.groupBy(_._1).map { case (k, v) => (k, v.size) }
    def expected(t: Seq[String]): Long = {
      val ps = t.zip(t.drop(1)).map(b => bc(b).toDouble / uc(b._1))
      math.floor(1000000.0 * ps.foldLeft(0.0)(_ + _) / ps.length).toLong
    }
    val got = TextOps.bigramLmScores(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(3L) == ((0L, 0L, -1L)))
    for ((id, t) <- Seq(1L -> toks(0), 2L -> toks(1), 4L -> toks(3)))
      assert(got(id) == ((t.length - 1L, t.length - 1L, expected(t))), s"doc $id")
    // reference-corpus mode: bigrams unseen in the reference score 0
    val ref = Seq((10L, "a b c")).toDF("doc_id", "text") // model: ab=1/1, bc=1/1
    val vs = TextOps.bigramLmScores(Seq((5L, "a b q")).toDF("doc_id", "text"), Some(ref))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).head
    // bigrams of "a b q": ab (p=1, known), bq (unseen, p=0) → mean 0.5
    assert(vs == ((2L, 1L, 500000L)), vs.toString)
  }

  test("real image decode recovers the encoder's dimensions via javax.imageio") {
    // PNG roundtrip: synth encoder dims == decoded dims
    for (ref <- Seq("imgA", "imgB", "imgC")) {
      val (w, h) = MultimodalOps.synthImageDims(ref)
      val png = MultimodalOps.synthImagePayload(ref)
      // actually a PNG, not a GRFT header
      assert((png.take(4).map(_ & 0xff).toSeq == Seq(0x89, 0x50, 0x4e, 0x47)), ref)
      assert(MultimodalOps.decodePayload(png, "image") == ((w, h, 1, 0)), ref)
    }
    // cross-codec: the same seam decodes BMP and JPEG (both JDK readers)
    for (fmt <- Seq("bmp", "jpg")) {
      val img = new java.awt.image.BufferedImage(37, 23, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      assert(MultimodalOps.decodePayload(bos.toByteArray, "image") == ((37, 23, 1, 0)), fmt)
    }
    // GRFT stub payloads still ride the same entry point
    val stub = MultimodalOps.synthPayload("refS", "audio")
    assert(MultimodalOps.decodePayload(stub, "audio") == MultimodalOps.decodeHeader(stub))
    // an audio payload no JDK codec recognizes fails loudly — no silent zeros
    val e = intercept[RuntimeException](
      MultimodalOps.decodePayload(Array[Byte](1, 2, 3, 4, 5), "audio"))
    assert(e.getMessage.contains("undecodable audio payload"), e.getMessage)
  }

  test("real audio decode recovers the encoder's spec via javax.sound.sampled") {
    // WAV roundtrip: synth encoder spec == decoded spec, 16-bit PCM,
    // canonical 44-byte RIFF header (the SQL oracle parses fixed offsets)
    for (ref <- Seq("audA", "audB", "audC")) {
      val (rate, channels, frames) = MultimodalOps.synthAudioSpec(ref)
      val wav = MultimodalOps.synthAudioPayload(ref)
      assert(new String(wav.take(4), "US-ASCII") == "RIFF", ref)
      assert(wav.length == 44 + frames * channels * 2, ref)
      assert(MultimodalOps.decodePayload(wav, "audio") ==
        ((channels, 16, frames, rate)), ref)
    }
    // cross-codec: the same seam decodes AIFF and AU (both JDK readers;
    // both big-endian containers, unlike RIFF)
    for (t <- Seq(javax.sound.sampled.AudioFileFormat.Type.AIFF,
                  javax.sound.sampled.AudioFileFormat.Type.AU)) {
      val fmt = new javax.sound.sampled.AudioFormat(16000f, 16, 2, true, true)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(new Array[Byte](300 * 2 * 2)), fmt, 300L)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais, t, bos)
      assert(MultimodalOps.decodePayload(bos.toByteArray, "audio") ==
        ((2, 16, 300, 16000)), t.toString)
    }
  }

  test("a foreign payload colliding with the GRFT magic is not parsed as a stub") {
    // first 4 bytes == magic but the header fields violate the
    // generator's kind-invariants (image must be frames=1, rate=0):
    // must fall through to the real codec and fail loudly, never
    // return the garbage bytes 4-19 as dimensions
    val forged = java.nio.ByteBuffer.allocate(64)
      .putInt(0x47524654).putInt(-7).putInt(999).putInt(3).putInt(44100).array()
    val ei = intercept[RuntimeException](
      graft.ops.MultimodalOps.decodePayload(forged, "image"))
    assert(ei.getMessage.contains("undecodable image payload"), ei.getMessage)
    val ea = intercept[RuntimeException](
      graft.ops.MultimodalOps.decodePayload(forged, "audio"))
    assert(ea.getMessage.contains("undecodable audio payload"), ea.getMessage)
    // the generator's own stubs still parse for every kind
    for (kind <- Seq("image", "audio", "video")) {
      val stub = graft.ops.MultimodalOps.synthPayload(s"ref-$kind", kind)
      assert(graft.ops.MultimodalOps.decodePayload(stub, kind) ==
        graft.ops.MultimodalOps.decodeHeader(stub), kind)
    }
  }

  test("real-mode media features decode distributed PNGs and WAVs to the encoder spec") {
    val docs = Pipeline.synthDocs(spark, 50)
    val feats = MultimodalOps.extractFeatures(MultimodalOps.mediaAssetsReal(docs)).collect()
    val images = feats.filter(_.kind == "image")
    assert(images.nonEmpty)
    for (f <- images) {
      val (w, h) = MultimodalOps.synthImageDims(f.media_ref)
      assert((f.width, f.height, f.n_frames, f.sample_rate) == ((w, h, 1, 0)), f.media_ref)
    }
    // audio rows are real WAVs: width=channels, height=bits/sample
    val audio = feats.filter(_.kind == "audio")
    assert(audio.nonEmpty)
    for (f <- audio) {
      val (rate, channels, frames) = MultimodalOps.synthAudioSpec(f.media_ref)
      assert((f.width, f.height, f.n_frames, f.sample_rate) ==
        ((channels, 16, frames, rate)), f.media_ref)
    }
    // the audio-native surface agrees field-for-field
    val af = MultimodalOps.audioFeatures(MultimodalOps.mediaAssetsReal(docs)).collect()
    assert(af.map(a => (a.media_ref, a.channels, a.bits_per_sample, a.n_frames, a.sample_rate)).toSet ==
      audio.map(f => (f.media_ref, f.width, f.height, f.n_frames, f.sample_rate)).toSet)
    // video rows are unchanged vs stub mode (same GRFT header)
    val stubFeats = MultimodalOps.extractFeatures(MultimodalOps.mediaAssets(docs)).collect()
      .filter(f => f.kind == "video").map(f => (f.media_ref, f.width, f.height, f.n_frames, f.sample_rate)).toSet
    val realFeats = feats.filter(_.kind == "video")
      .map(f => (f.media_ref, f.width, f.height, f.n_frames, f.sample_rate)).toSet
    assert(realFeats == stubFeats)
  }

  test("winnowing fingerprints are stable and text-sensitive") {
    val fp = DedupOps.winnowing(plantedDocs).collect()
    assert(fp.length == plantedDocs.count())
    val byId = fp.map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(byId(0L) == byId(200L), "identical texts must share fingerprints")
    assert(byId(0L) != byId(1L), "different texts should differ")
  }

  test("cleanCorpus composes dedup keeper + quality gates + language allowlist") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near a river bank"), // kept
      (2L, "the quick brown fox jumps over the lazy dog near a river bank"), // exact dup of 1 → dropped
      (3L, "short text"),                                   // < 5 tokens → dropped
      (4L, "1234 5678 9012 3456 7890 1111 of 2222 3333"),   // digit-heavy → dropped
      (5L, "这是 一个 中文 的 句子 呀 很好 真的 不错"),          // zh kept (stopword floor is en-only)
      (6L, "zzz qqq www eee rrr ttt yyy uuu")                // no stopwords → stop_ratio 0 → dropped
    ).toDF("doc_id", "text")
    val out = TextOps.cleanCorpus(docs).collect().map(_.getLong(0)).toSet
    assert(out.contains(1L) && !out.contains(2L), "exact dup must keep only the keeper")
    assert(!out.contains(3L), "too-short doc must be dropped")
    assert(!out.contains(4L), "digit-heavy doc must be dropped")
    assert(out.contains(5L), "zh doc must pass (the stopword floor is en-only)")
    assert(!out.contains(6L), "zero-stopword en doc must be dropped")
  }

  test("language id separates cjk from latin") {
    val df = Seq((1L, "这是一个中文句子"), (2L, "this is english text"), (3L, "12345 !!!"))
      .toDF("doc_id", "text")
    val out = TextOps.langId(df).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "zh", 2L -> "en", 3L -> "other"))
  }

  test("vocabulary and lengthHistogram: counts, tie-breaks, bin edges") {
    import graft.ops.TextOps
    val docs = Seq((1L, "b a a"), (2L, "a c b"), (3L, ("x " * 33).trim))
      .toDF("doc_id", "text")
    // vocabulary: a=3, b=2, x=33... wait x appears 33 times in doc 3
    val vocab = TextOps.vocabulary(docs, topK = 3)
      .as[(String, Long)].collect().toSeq
    assert(vocab == Seq(("x", 33L), ("a", 3L), ("b", 2L)), vocab.toString)
    // tie-break: c (1) vs nothing else at topK=4 — deterministic order
    val v4 = TextOps.vocabulary(docs, topK = 4).as[(String, Long)].collect().toSeq
    assert(v4.last == (("c", 1L)))
    // histogram: docs of 3/3/33 tokens at bucket 32 → bins 0 and 32
    val hist = TextOps.lengthHistogram(docs, bucket = 32)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(hist == Seq((0L, 2L, 6L), (32L, 1L, 33L)), hist.toString)
  }

  test("piiScan/piiRedact: planted identifiers found and replaced in order") {
    import graft.ops.TextOps
    val docs = Seq(
      (1L, "contact me at jane.doe+x@example.org or 555-123-4567 soon"),
      (2L, "see https://site.example/path?u=a@b.cc and id 123456789012345678"),
      (3L, "清洁的文本没有任何标识符")).toDF("doc_id", "text")
    val scan = TextOps.piiScan(docs).as[(Long, Long, Long, Long, Long)]
      .collect().sortBy(_._1).toSeq
    // doc 2: the email-like a@b.cc sits INSIDE the URL — counted by both
    // categories, redacted once by the earlier url pattern
    assert(scan == Seq((1L, 0L, 1L, 1L, 0L), (2L, 1L, 1L, 0L, 1L),
                       (3L, 0L, 0L, 0L, 0L)), scan.toString)
    val red = TextOps.piiRedact(docs).as[(Long, String, Long)]
      .collect().sortBy(_._1).toSeq
    assert(red(0)._2 == "contact me at [EMAIL] or [PHONE] soon", red(0)._2)
    assert(red(1)._2 == "see [URL] and id [ID]", red(1)._2)
    assert(red(2)._2 == "清洁的文本没有任何标识符" && red(2)._3 == 0L)
  }

  test("substringSpans: maximal duplicated runs, cross-doc and intra-doc") {
    import graft.ops.DedupOps
    val shared = (1 to 10).map(i => s"s$i").mkString(" ") // 10-token shared run
    val docs = Seq(
      (1L, s"a1 a2 a3 $shared z1 z2"),
      (2L, s"b1 b2 $shared y1 y2 y3"),
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"), // unique: no rows
      (4L, "r1 r2 r3 r4 r5 r6 r7 r8 q r1 r2 r3 r4 r5 r6 r7 r8")) // intra-doc
      .toDF("doc_id", "text")
    val got = DedupOps.substringSpans(docs, k = 8)
      .as[(Long, Int, Int)].collect().toSet
    // docs 1/2: exactly the 10-token shared run, MERGED into one maximal
    // span (k-gram positions fully inside it form one contiguous island);
    // doc 4: the repeated 8-gram surfaces as two separate 8-token spans
    assert(got == Set((1L, 3, 10), (2L, 2, 10), (4L, 0, 8), (4L, 9, 8)), got.toString)
  }

  test("substringDeduped removes non-keeper occurrences, keeps the first") {
    import graft.ops.DedupOps
    val shared = (1 to 10).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, s"a1 a2 a3 $shared z1 z2"),  // keeper (smallest doc_id): untouched
      (2L, s"b1 b2 $shared y1 y2 y3"),  // redundant copy: run removed
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10")) // unique: untouched
      .toDF("doc_id", "text")
    val got = DedupOps.substringDeduped(docs, k = 8)
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(got(0) == ((1L, s"a1 a2 a3 $shared z1 z2", 0L)), got(0).toString)
    assert(got(1) == ((2L, "b1 b2 y1 y2 y3", 10L)), got(1).toString)
    assert(got(2)._3 == 0L && got(2)._2.startsWith("u1 u2"))
    // determinism: keeper choice survives repartitioning
    val re = DedupOps.substringDeduped(docs.repartition(7), k = 8)
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(re == got)
  }

  test("duplicateLines: global line report with first-occurrence keeper") {
    import graft.ops.DedupOps
    val docs = Seq(
      (1L, "a b c d e f"),   // lines "a b c", "d e f"
      (2L, "x y z a b c"),   // "x y z", "a b c" (dup of doc1 idx0)
      (3L, "a b c"))         // third occurrence
      .toDF("doc_id", "text")
    val got = DedupOps.duplicateLines(docs, tokensPerLine = 3)
      .select("n_occ", "keeper_doc", "keeper_idx")
      .as[(Long, Long, Int)].collect().toSeq
    // exactly ONE duplicated line content ("a b c"), 3 occurrences,
    // keeper = globally-first (doc 1, line 0)
    assert(got == Seq((3L, 1L, 0)), got.toString)
  }

  test("lineDeduped drops non-keeper lines, rejoins in order, ragged tail ok") {
    import graft.ops.DedupOps
    val docs = Seq(
      (1L, "a b c d e f"),   // both lines keepers → untouched
      (2L, "x y z a b c"),   // "a b c" dropped
      (3L, "a b c"),         // entire doc already seen → empty survivor row
      (4L, "p q r s"))       // ragged tail line "s" — unique, kept
      .toDF("doc_id", "text")
    val got = DedupOps.lineDeduped(docs, tokensPerLine = 3)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 2L, 2L, "a b c d e f"),
      (2L, 2L, 1L, "x y z"),
      (3L, 1L, 0L, ""),
      (4L, 2L, 2L, "p q r s")), got.toString)
    // keeper choice and reassembly are partition/order-invariant
    val re = DedupOps.lineDeduped(docs.repartition(7), tokensPerLine = 3)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(re == got)
  }

  test("chunkDocs: stride-stepped overlapping windows, exact boundaries") {
    import graft.ops.TextOps
    val docs = Seq((1L, Some("a b c d e f g")), (2L, None), (3L, Some("x y")))
      .toDF("doc_id", "text")
    val got = TextOps.chunkDocs(docs, chunkTokens = 4, overlap = 2)
      .as[(Long, Int, Long, Long, String)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got == Seq(
      // starts 0,2,4,6 (stride = 4 - 2 = 2), tail windows emitted short
      (1L, 0, 0L, 4L, "a b c d"),
      (1L, 1, 2L, 4L, "c d e f"),
      (1L, 2, 4L, 3L, "e f g"),
      (1L, 3, 6L, 1L, "g"),
      // NULL text == empty text: one empty chunk, never a dropped doc
      (2L, 0, 0L, 1L, ""),
      (3L, 0, 0L, 2L, "x y")), got.toString)
    // positional rule → partition/order invariant
    val re = TextOps.chunkDocs(docs.repartition(5), chunkTokens = 4, overlap = 2)
      .as[(Long, Int, Long, Long, String)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(re == got)
    intercept[IllegalArgumentException](
      TextOps.chunkDocs(docs, chunkTokens = 4, overlap = 4))
  }

  test("lineDeduped keeps a row for NULL-text docs (behaves as empty text)") {
    import graft.ops.DedupOps
    // a NULL text must not vanish from the output (the every-input-doc
    // contract): it behaves exactly like the empty text — one empty
    // line, deduped corpus-wide like any other line content
    val docs = Seq((1L, Some("a b c")), (2L, None), (3L, Some("")))
      .toDF("doc_id", "text")
    val got = DedupOps.lineDeduped(docs, tokensPerLine = 3)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(got.map(_._1) == Seq(1L, 2L, 3L), got.toString)
    // doc 2 (first empty-line occurrence) is the keeper; doc 3's copy drops
    assert(got(1) == ((2L, 1L, 1L, "")), got.toString)
    assert(got(2) == ((3L, 1L, 0L, "")), got.toString)
  }

  test("newAgainstSeen: exact anti-join keeps only genuinely new docs") {
    import graft.ops.DedupOps
    val seen = Seq((1L, "x y z"), (2L, "k l m")).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "x y z"),          // exact copy of seen doc 1 → dropped
      (11L, "fresh text here"),
      (12L, "k l m"),          // exact copy of seen doc 2 → dropped
      (13L, "x y z q"))        // superset, NOT an exact dup → kept
      .toDF("doc_id", "text")
    val got = DedupOps.newAgainstSeen(incoming, seen)
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(11L, 13L), got.toString)
  }

  test("nearNewScreen: band collisions flag copies, clean docs pass with 0 hits") {
    import graft.ops.DedupOps
    val seen = Seq((1L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "a b c d e f g h i j"),     // identical → every band collides
      (11L, "q r s t u v w x y z"),     // disjoint shingles → clean
      (12L, "a b c d e f g h i CHANGED")) // near-dup: most shingles shared
      .toDF("doc_id", "text")
    val got = DedupOps.nearNewScreen(incoming, seen)
      .as[(Long, Long, Int)].collect().sortBy(_._1).toSeq
    assert(got.map(_._1) == Seq(10L, 11L, 12L), got.toString) // ALL incoming present
    assert(got(0) == ((10L, 16L, 1)), got(0).toString)        // all 16 bands hit
    assert(got(1) == ((11L, 0L, 0)), got(1).toString)         // clean passes through
    assert(got(2)._2 > 0L && got(2)._3 == 1, got(2).toString) // near-dup flagged
  }

  test("bloom screen: no false negatives, deterministic index, multiplicity-safe") {
    import graft.ops.DedupOps
    val seen = Seq((1L, "a b c d e f g h i j"), (2L, "k l m n o p"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "a b c d e f g h i j"),   // exact copy → MUST flag (no false negatives)
      (11L, "k l m n o p"),           // exact copy of seen 2 → MUST flag
      (12L, "totally fresh words xyzzy plugh")) // unseen
      .toDF("doc_id", "text")
    val bloom = DedupOps.bloomPositions(seen)
    // index size bounded by k × |seen| (dedup can only shrink it)
    assert(bloom.positions.count() <= 14L && bloom.positions.count() > 0L)
    val got = DedupOps.crossBloomScreen(incoming, bloom)
      .as[(Long, Long, Int)].collect().sortBy(_._1).toSeq
    assert(got.map(_._1) == Seq(10L, 11L, 12L), got.toString) // all batch rows screened
    assert(got(0) == ((10L, 7L, 1)), got(0).toString)
    assert(got(1) == ((11L, 7L, 1)), got(1).toString)
    // the unseen doc misses at least one position at m = 2^22 (the hash
    // family is deterministic, so this is a stable fact, not a flake)
    assert(got(2)._2 < 7L && got(2)._3 == 0, got(2).toString)
    // partition-invariance + index determinism
    val re = DedupOps.crossBloomScreen(incoming.repartition(5),
        DedupOps.bloomPositions(seen.repartition(3)))
      .as[(Long, Long, Int)].collect().sortBy(_._1).toSeq
    assert(re == got)
    // a doc whose own k positions collide internally still needs ALL of
    // them present: a tiny filter (m=8) makes everything collide — the
    // copy still flags, and the m/k travel WITH the index so a probe can
    // never silently use mismatched parameters
    val tiny = DedupOps.crossBloomScreen(incoming, DedupOps.bloomPositions(seen, mBits = 8L))
      .as[(Long, Long, Int)].collect().sortBy(_._1).toSeq
    assert(tiny(0)._3 == 1 && tiny(1)._3 == 1)
  }

  test("crossApply routes exact/near/clean and is partition-invariant") {
    import graft.ops.DedupOps
    val seen = Seq((1L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "a b c d e f g h i j"),       // byte-identical → exact_dup
      (11L, "q r s t u v w x y z"),       // disjoint → clean (the cleaned batch)
      (12L, "a b c d e f g h i CHANGED")) // shares most shingles → near_dup
      .toDF("doc_id", "text")
    val got = DedupOps.crossApply(incoming, seen)
      .select("doc_id", "n_hit_bands", "exact_dup", "route", "kept")
      .as[(Long, Long, Int, String, Int)].collect().sortBy(_._1).toSeq
    assert(got.map(_._1) == Seq(10L, 11L, 12L), got.toString) // all batch rows routed
    // exact wins over near even though its bands also collide
    assert(got(0) == ((10L, 16L, 1, "exact_dup", 0)), got(0).toString)
    assert(got(1) == ((11L, 0L, 0, "clean", 1)), got(1).toString)
    assert(got(2)._3 == 0 && got(2)._4 == "near_dup" && got(2)._5 == 0, got(2).toString)
    // the routed text survives: filtering route='clean' IS the cleaned batch
    val clean = DedupOps.crossApply(incoming, seen).filter($"route" === "clean")
      .select("doc_id", "text").as[(Long, String)].collect().toSet
    assert(clean == Set((11L, "q r s t u v w x y z")))
    // a higher band-hit threshold admits the near-dup but never the exact
    val relaxed = DedupOps.crossApply(incoming, seen, maxHitBands = 16L)
      .select("doc_id", "route").as[(Long, String)].collect().toMap
    assert(relaxed == Map(10L -> "exact_dup", 11L -> "clean", 12L -> "clean"))
    // partition-invariance: verdicts are content functions, not layout ones
    val re = DedupOps.crossApply(incoming.repartition(7), seen.repartition(5))
      .select("doc_id", "n_hit_bands", "exact_dup", "route", "kept")
      .as[(Long, Long, Int, String, Int)].collect().sortBy(_._1).toSeq
    assert(re == got)
  }

  test("crossVerify: exact shingle-Jaccard on suspects only, threshold routing, partition-invariant") {
    import graft.ops.DedupOps
    val seen = Seq((1L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "a b c d e f g h i j"),       // identical: true jaccard 1000
      (11L, "q r s t u v w x y z"),       // clean → never a suspect, absent
      (12L, "a b c d e f g h i CHANGED")) // 7 of 9 union shingles shared
      .toDF("doc_id", "text")
    val got = DedupOps.crossVerify(incoming, seen)
      .select("doc_id", "best_seen_id", "jaccard_x1000", "verified", "route_refined")
      .as[(Long, Long, Long, Int, String)].collect().sortBy(_._1).toSeq
    // verifier work is SUSPECT-bounded: one row per screen suspect only
    assert(got.map(_._1) == Seq(10L, 12L), got.toString)
    // exact Jaccard, hand-computed: 8/8 → 1000; 7/(8+8-7) → ⌊7000/9⌋ = 777
    assert(got(0) == ((10L, 1L, 1000L, 1, "near_dup")), got(0).toString)
    assert(got(1) == ((12L, 1L, 777L, 1, "near_dup")), got(1).toString)
    // a stricter threshold demotes the partial copy to a false alarm —
    // true similarity decides, not band counts
    val strict = DedupOps.crossVerify(incoming, seen, thresholdX1000 = 800)
      .select("doc_id", "verified", "route_refined")
      .as[(Long, Int, String)].collect().sortBy(_._1).toSeq
    assert(strict == Seq((10L, 1, "near_dup"), (12L, 0, "screen_false_alarm")),
      strict.toString)
    // suspects whose only collisions sat in dropped oversize buckets keep
    // the sentinel best match and return to the clean pool
    val dropped = DedupOps.crossVerify(incoming, seen, maxBucketSize = 0)
      .select("doc_id", "best_seen_id", "jaccard_x1000", "route_refined")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(dropped.map(_._1) == Seq(10L, 12L))
    assert(dropped.forall(r => r._2 == -1L && r._3 == 0L &&
      r._4 == "screen_false_alarm"), dropped.toString)
    // verdicts are pure content functions — layout must not matter
    val re = DedupOps.crossVerify(incoming.repartition(7), seen.repartition(5))
      .select("doc_id", "best_seen_id", "jaccard_x1000", "verified", "route_refined")
      .as[(Long, Long, Long, Int, String)].collect().sortBy(_._1).toSeq
    assert(re == got)
    // an EMPTY seen corpus (first ingestion batch) produces no suspects
    // and an empty verifier table, schema intact
    val fresh = DedupOps.crossVerify(incoming, seen.filter($"doc_id" < 0L))
    assert(fresh.count() == 0 && fresh.columns.contains("route_refined"))
  }

  test("video BMFF round-trip: the box walk recovers the container spec exactly") {
    val refs = Seq("m_000", "vid-a", "媒体-42", "x")
    for (ref <- refs) {
      val (timescale, duration, width, height, frames, nTracks) =
        MultimodalOps.synthVideoSpec(ref)
      val m = MultimodalOps.decodeVideoMeta(MultimodalOps.synthVideoPayload(ref))
      assert(m == MultimodalOps.VideoMeta(timescale, duration, nTracks,
        width, height, frames), s"$ref: $m")
    }
    // the distributed surface agrees field-for-field, duration in ms
    val docs = Pipeline.synthDocs(spark, 50)
    val vf = MultimodalOps.videoFeatures(MultimodalOps.mediaAssetsReal(docs)).collect()
    assert(vf.nonEmpty)
    for (f <- vf) {
      val (timescale, duration, width, height, frames, nTracks) =
        MultimodalOps.synthVideoSpec(f.media_ref)
      assert((f.timescale, f.duration_ticks, f.n_tracks, f.width, f.height,
              f.n_frames) == ((timescale, duration, nTracks, width, height, frames)),
        f.media_ref)
      assert(f.duration_ms == duration.toLong * 1000L / timescale)
      assert(f.byte_len > 0L)
    }
  }

  test("video BMFF parse: version-1 mvhd layout, loud refusal of non-BMFF payloads") {
    // hand-built container with a VERSION 1 mvhd (64-bit times) — the
    // synth generator only emits v0, so the v1 branch needs its own bytes
    val buf = java.nio.ByteBuffer.allocate(16 + 228)
    def tag(s: String): Unit = { buf.put(s.getBytes("US-ASCII")); () }
    buf.putInt(16); tag("ftyp"); tag("isom"); buf.putInt(0)
    buf.putInt(228); tag("moov")
    buf.putInt(120); tag("mvhd"); buf.putInt(0x01000000) // version 1
    buf.putLong(0L).putLong(0L)                          // 64-bit times
    // duration > 2^31 ticks — the exact case the 64-bit v1 field exists
    // for (a ~15 h file at 90 kHz); must come through untruncated
    buf.putInt(1000); buf.putLong(5000000000L)           // timescale, duration
    buf.putInt(0x00010000); buf.putShort(0x0100.toShort).putShort(0)
    buf.putLong(0L)
    for (v <- Seq(0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)) buf.putInt(v)
    for (_ <- 0 until 6) buf.putInt(0)
    buf.putInt(2) // next_track_ID
    buf.putInt(100); tag("trak")
    buf.putInt(92); tag("tkhd"); buf.putInt(0x000007)
    buf.putInt(0).putInt(0).putInt(1).putInt(0).putInt(98765)
    buf.putLong(0L); buf.putLong(0L)
    for (v <- Seq(0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)) buf.putInt(v)
    buf.putInt(320 << 16).putInt(240 << 16)
    val m = MultimodalOps.decodeVideoMeta(buf.array())
    // no mdia chain → frame count reads as 0, everything else exact
    assert(m == MultimodalOps.VideoMeta(1000, 5000000000L, 1, 320, 240, 0), m.toString)
    // non-BMFF payloads fail LOUDLY — a silent zero would hide corruption
    intercept[IllegalArgumentException](
      MultimodalOps.decodeVideoMeta(MultimodalOps.synthPayload("r", "video")))
    // a corrupt box size inside a real container also fails loudly
    val broken = MultimodalOps.synthVideoPayload("m_000").clone()
    val bb = java.nio.ByteBuffer.wrap(broken)
    bb.putInt(MultimodalOps.BmffFtypSize, 4) // moov box claims size 4 (< 8)
    intercept[IllegalArgumentException](MultimodalOps.decodeVideoMeta(broken))
  }

  test("video BMFF parse: audio-first track ordering, largesize and to-EOF boxes") {
    def mvhdV0(buf: java.nio.ByteBuffer, tag: String => Unit,
               timescale: Int, duration: Int): Unit = {
      buf.putInt(108); tag("mvhd"); buf.putInt(0)
      buf.putInt(0).putInt(0)
      buf.putInt(timescale).putInt(duration)
      buf.putInt(0x00010000); buf.putShort(0x0100.toShort).putShort(0)
      buf.putLong(0L)
      for (v <- Seq(0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)) buf.putInt(v)
      for (_ <- 0 until 6) buf.putInt(0)
      buf.putInt(3)
    }
    def trakV0(buf: java.nio.ByteBuffer, tag: String => Unit,
               id: Int, w: Int, h: Int): Unit = {
      buf.putInt(100); tag("trak")
      buf.putInt(92); tag("tkhd"); buf.putInt(0x000007)
      buf.putInt(0).putInt(0).putInt(id).putInt(0).putInt(0)
      buf.putLong(0L); buf.putLong(0L)
      for (v <- Seq(0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)) buf.putInt(v)
      buf.putInt(w << 16).putInt(h << 16)
    }
    // real muxers often put the AUDIO track first (0x0 tkhd dims) — the
    // walk must pick the track with nonzero dimensions, not traks.head
    locally {
      val buf = java.nio.ByteBuffer.allocate(16 + 8 + 108 + 200)
      def tag(s: String): Unit = { buf.put(s.getBytes("US-ASCII")); () }
      buf.putInt(16); tag("ftyp"); tag("isom"); buf.putInt(0)
      buf.putInt(8 + 108 + 200); tag("moov")
      mvhdV0(buf, tag, 600, 1200)
      trakV0(buf, tag, 1, 0, 0)     // audio-like: zero dimensions
      trakV0(buf, tag, 2, 640, 480) // the video track
      val m = MultimodalOps.decodeVideoMeta(buf.array())
      assert(m == MultimodalOps.VideoMeta(600, 1200L, 2, 640, 480, 0), m.toString)
    }
    // streaming-layout container: a size==1 (64-bit largesize) mdat
    // BEFORE moov, and a trailing size==0 (to-end-of-file) free box —
    // both legal BMFF shapes the walk must step over, not reject
    locally {
      val buf = java.nio.ByteBuffer.allocate(16 + 24 + 8 + 108 + 100 + 12)
      def tag(s: String): Unit = { buf.put(s.getBytes("US-ASCII")); () }
      buf.putInt(16); tag("ftyp"); tag("isom"); buf.putInt(0)
      buf.putInt(1); tag("mdat"); buf.putLong(24L); buf.putLong(0L) // largesize box
      buf.putInt(8 + 108 + 100); tag("moov")
      mvhdV0(buf, tag, 1000, 7777)
      trakV0(buf, tag, 1, 320, 240)
      buf.putInt(0); tag("free"); buf.putInt(0) // extends to EOF
      val m = MultimodalOps.decodeVideoMeta(buf.array())
      assert(m == MultimodalOps.VideoMeta(1000, 7777L, 1, 320, 240, 0), m.toString)
    }
    // a v0 duration with the top bit set reads UNSIGNED (u32), never
    // negative
    locally {
      val buf = java.nio.ByteBuffer.allocate(16 + 8 + 108 + 100)
      def tag(s: String): Unit = { buf.put(s.getBytes("US-ASCII")); () }
      buf.putInt(16); tag("ftyp"); tag("isom"); buf.putInt(0)
      buf.putInt(8 + 108 + 100); tag("moov")
      mvhdV0(buf, tag, 90000, 0xF0000000) // u32 4026531840, Int -268435456
      trakV0(buf, tag, 1, 320, 240)
      val m = MultimodalOps.decodeVideoMeta(buf.array())
      assert(m.duration_ticks == 4026531840L, m.toString)
    }
  }

  test("temperatureRates: exact sqrt-temperature keep-rates, all alphas") {
    import graft.ops.TextOps
    val docs = (Seq.fill(9)("A") ++ Seq("B") ++ Seq.fill(2)("C")).zipWithIndex
      .map { case (src, i) => (i.toLong, src, s"doc $i") }
      .toDF("doc_id", "source", "text")
    def rates(alphaX2: Int) = TextOps.temperatureRates(docs, alphaX2 = alphaX2)
      .select("source", "n_docs", "weight", "rate_x10000")
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // alpha=0.5: w=(3,1,1) isqrt(9/1/2), sum_w=5, n_total=12, budget=6:
    //   A: 12*5000*3 // (5*9) = 4000; B: 60000//5 → capped; C: 60000//10
    assert(rates(1) == Seq(("A", 9L, 3L, 4000L), ("B", 1L, 1L, 10000L),
                           ("C", 2L, 1L, 6000L)), rates(1).toString)
    // alpha=0 (uniform budget): w=1 each, sum_w=3
    assert(rates(0) == Seq(("A", 9L, 1L, 2222L), ("B", 1L, 1L, 10000L),
                           ("C", 2L, 1L, 10000L)), rates(0).toString)
    // alpha=1 (proportional): every source keeps exactly the budget frac
    assert(rates(2).map(_._4) == Seq(5000L, 5000L, 5000L), rates(2).toString)
  }

  test("temperatureSample keeps exactly the ticket-under-rate docs, deterministically") {
    import graft.ops.TextOps
    import graft.functions.PortableHash
    val docs = (0L until 60L).map(i =>
      (i, if (i % 6 == 0) "small" else "big", s"doc $i"))
      .toDF("doc_id", "source", "text")
    val rates = TextOps.temperatureRates(docs)
      .select("source", "rate_x10000").as[(String, Long)].collect().toMap
    val expected = (0L until 60L).filter { i =>
      val src = if (i % 6 == 0) "small" else "big"
      val ticket = ((PortableHash.md5Long48Jvm(i.toString) % 10000) + 10000) % 10000
      ticket < rates(src)
    }.toSet
    val got = TextOps.temperatureSample(docs)
      .select("doc_id").as[Long].collect().toSet
    assert(got == expected && got.nonEmpty && got.size < 60, got.toString)
    val re = TextOps.temperatureSample(docs.repartition(7))
      .select("doc_id").as[Long].collect().toSet
    assert(re == got)
  }

  test("repetitionScores: planted boilerplate maxes out, diverse text stays low") {
    import graft.ops.TextOps
    val docs = Seq(
      (1L, "a a a a"),            // pure repetition: every fraction 10000
      (2L, "w x y z"),            // all-distinct: top word 1/4, top 2gram 1/3, no dup 3grams
      (3L, "p q p q p q"),        // alternating: top word 3/6, top 2gram "p q" 3/5, all 3grams dup'd? (p q p)x2 (q p q)x2 -> 4/4
      (4L, "solo"))               // 1 word: no 2/3-grams, fractions coalesce
      .toDF("doc_id", "text")
    val got = TextOps.repetitionScores(docs)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 10000L, 10000L, 10000L),
      (2L, 2500L, 3333L, 0L),
      (3L, 5000L, 6000L, 10000L),
      (4L, 10000L, 0L, 0L)), got.toString)
  }

  test("contamination: exact benchmark copy flags, partial overlap measures") {
    import graft.ops.TextOps
    val bench = Seq((100L, "b1 b2 b3 b4 b5 b6 b7 b8 b9")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "b1 b2 b3 b4 b5 b6 b7 b8 b9"),   // identical: 2/2 grams hit
      (2L, "x1 b1 b2 b3 b4 b5 b6 b7 b8"),   // one of two grams hits
      (3L, "c1 c2 c3 c4 c5 c6 c7 c8 c9"),   // disjoint
      (4L, "short doc"))                     // < 8 words: absent
      .toDF("doc_id", "text")
    val got = TextOps.contamination(docs, bench, n = 8)
      .as[(Long, Long, Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 2L, 2L, 10000L, true),
      (2L, 2L, 1L, 5000L, true),
      (3L, 2L, 0L, 0L, false)), got.toString)
    // the benchmark side rides a broadcast, corpus probe stays unshuffled
    // until the per-doc aggregation
    val plan = TextOps.contamination(docs, bench, n = 8)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("stratifiedSample: deterministic, partition-invariant, quota-correct") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val quotas = Map("en" -> 2500, "zh" -> 6000)
    val a = TextOps.stratifiedSample(docs.repartition(1), quotas)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = TextOps.stratifiedSample(docs.repartition(7), quotas)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b, "sample must not depend on partitioning")
    // quota edges: 10000 keeps every doc of the lang, 0 keeps none
    val all = TextOps.stratifiedSample(docs, Map("en" -> 10000)).collect()
    assert(all.forall(_.getString(1) == "en"))
    assert(all.length == TextOps.langId(docs)
      .filter($"lang_pred" === "en").count())
    assert(TextOps.stratifiedSample(docs, Map.empty).count() == 0)
    // the kept fraction lands near the quota (content-hash tickets are
    // uniform; 3σ tolerance at this corpus size)
    val en = TextOps.langId(docs).filter($"lang_pred" === "en").count().toDouble
    val kept = all.length.toDouble // sanity anchor for the ratio below
    val sampled = TextOps.stratifiedSample(docs, Map("en" -> 2500)).count().toDouble
    assert(math.abs(sampled / en - 0.25) < 3 * math.sqrt(0.25 * 0.75 / en),
           s"en sample rate ${sampled / en} too far from 0.25 (n=$en, kept=$kept)")
  }

  test("packSequences: per-stream cumulative bin assignment, partition-invariant") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val got = TextOps.packSequences(docs, maxTokens = 512, nStreams = 4).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    // recompute the contract directly: within a stream, docs in doc_id
    // order, bin = floor(start-cumsum / maxTokens)
    val expected = got.groupBy(_._2).toSeq.flatMap { case (_, rows) =>
      var cum = 0L
      rows.sortBy(_._1).toSeq.map { case (id, st, n, _) =>
        val bin = cum / 512
        cum += n
        (id, st, n, bin)
      }
    }.toSet
    assert(got.toSet == expected, "bin assignment must equal the sequential pack per stream")
    val reparted = TextOps.packSequences(docs.repartition(13), maxTokens = 512, nStreams = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(reparted == got.toSet, "packing must not depend on input partitioning")
    // every doc lands in exactly one bin; bins start at 0 per stream
    assert(got.map(_._1).distinct.length == got.length)
    assert(got.groupBy(_._2).values.forall(_.map(_._4).min == 0L))
  }
}
