package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.model.Tables

class LlmSpec extends SparkSpec {

  private def docs = Tables.documents(spark, sf)
  private def emb = Tables.embeddings(spark, sf)

  /** Executable spec of [[Similarity.randomProject]]: the composed
    * higher-order-function form (transform over out dims,
    * aggregate(zip_with) dot), the differential-test twin of the
    * codegen'd expression.
    */
  private def randomProjectSpec(emb: DataFrame, outDim: Int): DataFrame = {
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    val rows = (0 until outDim).map { j =>
      val w = typedLit((0 until Similarity.Dims)
        .map(i => graft.functions.VecProject.sign(j, i)))
      struct(lit(j).as("j"),
        round(aggregate(zip_with(col("embedding").cast("array<double>"), w,
          (v, s) => v * s), lit(0.0), (acc, v) => acc + v) * scale, 6).as("y"))
    }
    emb.select(col("vec_id"), explode(array(rows: _*)).as("r"))
      .select(col("vec_id"), col("r.j").as("j"), col("r.y").as("y"))
  }

  test("product quantization: codebook rows reconstruct exactly; errors bounded") {
    val out = Similarity.productQuantize(emb)
    assert(out.count() == emb.count())
    // a sampled-codebook row's own sub-vectors are centroids, so it codes
    // to itself: code_sum = m * vec_id, recon_err = 0
    val mod = Similarity.centroidModFor(emb.count())
    val selfCoded = out.filter(pmod(col("vec_id"), lit(mod)) === 0)
    assert(selfCoded.filter(col("recon_err") =!= 0.0 ||
      col("code_sum") =!= col("vec_id") * 8).count() == 0)
    // every non-centroid row has a non-negative finite error
    assert(out.filter(col("recon_err") < 0.0 || col("recon_err").isNull)
      .count() == 0)
  }

  test("media probe: wav fmt chunk, truncated headers, unknown formats") {
    val s = spark
    import s.implicits._
    def wav(channels: Int, rate: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(44)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes); bb.putInt(36)
      bb.put("WAVE".getBytes); bb.put("fmt ".getBytes)
      bb.putInt(16); bb.putShort(1); bb.putShort(channels.toShort)
      bb.putInt(rate); bb.putInt(rate * channels * 2)
      bb.putShort((channels * 2).toShort); bb.putShort(16)
      bb.put("data".getBytes); bb.putInt(0)
      bb.array()
    }
    val cases: Seq[(String, Array[Byte])] = Seq(
      "wav" -> wav(2, 44100),
      "trunc_png" -> Array[Byte](0x89.toByte, 'P', 'N', 'G'),
      "not_media" -> "hello world, definitely not an image".getBytes,
      "jpeg_no_sof" -> Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte,
        0xd9.toByte),
      "empty" -> Array[Byte]())
    val out = cases.toDF("name", "media")
      .select(col("name"), graft.functions.MediaProbeFn.probe(col("media"))
        .as("p"))
      .select(col("name"), col("p.format"), col("p.width"), col("p.height"))
      .collect().map(r => r.getString(0) ->
        (r.getString(1), Option(r.get(2)), Option(r.get(3)))).toMap
    assert(out("wav") == (("wav", Some(2), Some(44100))))
    assert(out("trunc_png")._1 == "unknown") // too short for a PNG header
    assert(out("not_media")._1 == "unknown")
    assert(out("jpeg_no_sof") == (("jpeg", None, None)))
    assert(out("empty")._1 == "unknown")
  }

  test("media probe: webp flavors, mp4 box walk, jpeg fill/RST markers") {
    val s = spark
    import s.implicits._
    def hx(h: String): Array[Byte] =
      h.replaceAll("\\s", "").grouped(2)
        .map(Integer.parseInt(_, 16).toByte).toArray
    // VP8 lossy: sync 9D012A then 14-bit LE dims (320x240)
    val vp8 = hx("52494646 20000000 57454250 56503820 14000000" +
      "000000 9D012A 4001 F000 0000")
    // VP8L lossless: 0x2F then 14-bit minus-one dims packed LE (17x9)
    // bits = (17-1) | (9-1)<<14 = 0x20010 -> LE bytes 10 00 02 00
    val vp8l = hx("52494646 18000000 57454250 5650384C 0C000000" +
      "2F 10000200 00")
    // VP8X extended: 24-bit LE minus-one dims (1000x600)
    val vp8x = hx("52494646 24000000 57454250 56503858 0A000000" +
      "02000000 E70300 570200")
    // mp4: ftyp + moov>trak>tkhd v0, audio trak (0x0) FIRST, video 640x480
    val tkhd0 = "0000005C 746B6864 00000007" + "00" * 72
    val trakA = "00000064 7472616B " + tkhd0 + "00000000 00000000"
    val trakV = "00000064 7472616B " + tkhd0 + "02800000 01E00000"
    val mp4 = hx("00000010 66747970 69736F6D 00000000" +
      "000000D0 6D6F6F76 " + trakA + trakV)
    // JPEG with TEM (FF01), an RST (FFD0), and fill bytes before SOF0
    val jpgFill = hx("FFD8 FFE0 0010 4A46494600010100000100010000" +
      "FF01 FFD0 FFFF FFC0 0011 08 00F0 0140 03011100021101031101")
    // JPEG hitting SOS before any SOF: dims stay null
    val jpgSos = hx("FFD8 FFDA 0008 01 01 11 00 3F 00")
    val cases = Seq("vp8" -> vp8, "vp8l" -> vp8l, "vp8x" -> vp8x,
      "mp4" -> mp4, "jpg_fill" -> jpgFill, "jpg_sos" -> jpgSos)
    val out = cases.toDF("name", "media")
      .select(col("name"), graft.functions.MediaProbeFn.probe(col("media"))
        .as("p"))
      .select(col("name"), col("p.format"), col("p.width"), col("p.height"))
      .collect().map(r => r.getString(0) ->
        (r.getString(1), Option(r.get(2)), Option(r.get(3)))).toMap
    assert(out("vp8") == (("webp", Some(320), Some(240))))
    assert(out("vp8l") == (("webp", Some(17), Some(9))))
    assert(out("vp8x") == (("webp", Some(1000), Some(600))))
    assert(out("mp4") == (("mp4", Some(640), Some(480))))
    assert(out("jpg_fill") == (("jpeg", Some(320), Some(240))))
    assert(out("jpg_sos") == (("jpeg", None, None)))
  }

  test("media probe: ISO-BMFF ftyp brand decides the format label") {
    val s = spark
    import s.implicits._
    def hx(h: String): Array[Byte] =
      h.replaceAll("\\s", "").grouped(2)
        .map(Integer.parseInt(_, 16).toByte).toArray
    def ftyp(brandHex: String) =
      hx("00000010 66747970 " + brandHex + " 00000000")
    // an M4A with a real moov>trak>tkhd still reports its audio dims null
    // (the 0x0 audio trak never matches), but the BRAND must say m4a
    val tkhd0 = "0000005C 746B6864 00000007" + "00" * 72
    val trakA = "00000064 7472616B " + tkhd0 + "00000000 00000000"
    val m4aMoov = hx("00000010 66747970 4D344120 00000000" +
      "0000006C 6D6F6F76 " + trakA)
    val cases = Seq(
      "heic" -> ftyp("68656963"), "mif1" -> ftyp("6D696631"),
      "avif" -> ftyp("61766966"), "qt" -> ftyp("71742020"),
      "m4a" -> m4aMoov, "threegp" -> ftyp("33677034"),
      "garbage_brand" -> ftyp("00010203"), "mp42" -> ftyp("6D703432"))
    val out = cases.toDF("name", "media")
      .select(col("name"), graft.functions.MediaProbeFn.probe(col("media"))
        .as("p"))
      .select(col("name"), col("p.format"), col("p.width"), col("p.height"))
      .collect().map(r => r.getString(0) ->
        (r.getString(1), Option(r.get(2)), Option(r.get(3)))).toMap
    assert(out("heic") == (("heic", None, None)))
    assert(out("mif1")._1 == "heic")
    assert(out("avif")._1 == "avif")
    assert(out("qt")._1 == "mov")
    assert(out("m4a") == (("m4a", None, None)))
    assert(out("threegp")._1 == "3gp4") // unknown printable brand: verbatim
    assert(out("garbage_brand")._1 == "unknown")
    assert(out("mp42")._1 == "mp4")
  }

  test("minhash signatures are deterministic") {
    val a = Dedup.minhashSignatures(docs).orderBy("doc_id").limit(5)
      .collect().map(_.toString)
    val b = Dedup.minhashSignatures(docs).orderBy("doc_id").limit(5)
      .collect().map(_.toString)
    assert(a.sameElements(b))
  }

  test("LSH candidates achieve full recall on high-similarity pairs") {
    // every true pair with Jaccard >= 0.8 must appear among LSH candidates
    // (16 hashes, 4x4 bands: P(candidate) = 1-(1-j^4)^4 = 0.994 at j=0.8,
    // and the planted pairs are ~0.99 → miss probability ~0)
    val truth = Dedup.ngramJaccardPairs(docs, 0.8).select("i", "j")
    val cand = Dedup.lshCandidates(docs)
    val missed = truth.join(cand, Seq("i", "j"), "left_anti").count()
    assert(missed == 0)
  }

  test("IVF top-k is a subset of candidates ranked exactly; top-1 recall high") {
    val q = emb.filter(col("vec_id") % 10 === 0)
    val ivf = Similarity.ivfTopK(q, emb, 5)
    // exact rerank: sims within a query strictly ranked, no rank gaps
    val ranks = ivf.groupBy(col("qid"))
      .agg(count(lit(1)).as("n"), max(col("rank")).as("mx"))
    assert(ranks.filter(col("n") =!= col("mx")).count() == 0)
    // nearest neighbor (rank 1) recall vs brute force: the planted
    // near-dup pairs are far more similar than random vectors, so the
    // probed cell almost always contains the true NN
    val bruteTop1 = Similarity.bruteForceTopK(q, emb, 1)
      .select(col("qid"), col("nid"))
    val ivfTop1 = ivf.filter(col("rank") === 1).select(col("qid"), col("nid"))
    val total = bruteTop1.count()
    val hit = bruteTop1.join(ivfTop1, Seq("qid", "nid"), "left_semi").count()
    assert(total > 0 && hit.toDouble / total >= 0.5, s"$hit/$total")
  }

  test("IVF-PQ ranks the same candidate cells as plain IVF; ADC top-1 recall") {
    val q = emb.filter(col("vec_id") % 10 === 0)
    // equal probe budget ⇒ identical candidate sets: the PQ layer only
    // changes the rerank metric, never which cells are probed
    val ivfAll = Similarity.ivfTopK(q, emb, 1000000).select("qid", "nid")
    val pqAll = Similarity.ivfPqTopK(q, emb, 1000000).select("qid", "nid")
    assert(pqAll.exceptAll(ivfAll).count() == 0)
    assert(ivfAll.exceptAll(pqAll).count() == 0)
    // top-1 recall vs brute force at k=10: the ADC shortlist (40) covers
    // every reachable NN, so the exact rerank matches plain IVF's recall
    // at the identical probe budget — the IVFADC-R equal-recall claim
    val bruteTop1 = Similarity.bruteForceTopK(q, emb, 1)
      .select(col("qid"), col("nid"))
    val pqTop1 = Similarity.ivfPqTopK(q, emb, 10)
      .filter(col("rank") === 1).select(col("qid"), col("nid"))
    val ivfTop1 = Similarity.ivfTopK(q, emb, 10)
      .filter(col("rank") === 1).select(col("qid"), col("nid"))
    val total = bruteTop1.count()
    val pqHit = bruteTop1.join(pqTop1, Seq("qid", "nid"), "left_semi").count()
    val ivfHit = bruteTop1.join(ivfTop1, Seq("qid", "nid"), "left_semi").count()
    assert(total > 0 && pqHit >= ivfHit, s"pq $pqHit < ivf $ivfHit / $total")
    assert(pqHit.toDouble / total >= 0.5, s"$pqHit/$total")
  }

  test("IVF-PQ admission guard refuses a corpus-sized query set") {
    // the ADC broadcast grows as queries x nprobe x m x sqrt(N): feeding
    // the whole corpus as queries must fail fast with a clear message,
    // never reach the broadcast
    val ex = intercept[IllegalArgumentException] {
      Similarity.ivfPqTopK(emb, emb, 10, adcBudgetRows = 64L)
    }
    assert(ex.getMessage.contains("ADC"))
    assert(ex.getMessage.contains("batch the query set"))
    // the same call under the real default budget is admitted (plan builds)
    val q = emb.filter(col("vec_id") % 10 === 0)
    assert(Similarity.ivfPqTopK(q, emb, 1).columns.contains("rank"))
  }

  test("banding recall floor holds on a correlated templated corpus") {
    // The xor-mask minhash family is not min-wise independent (all K
    // functions derive from one md5) — this pins its EMPIRICAL recall on
    // exactly the correlated shape the Dedup.HashSeeds comment warns
    // about: templated docs whose shingle sets overlap heavily and vary
    // in one token. 40 templates x 5 variants, within-template Jaccard
    // = 35/41 ≈ 0.854 (theory: 1-(1-j^4)^4 ≈ 0.95 candidate rate at 4x4
    // banding). Fully deterministic, so the floor cannot flake.
    val s = spark
    import s.implicits._
    val cdocs = (0 until 40).flatMap { t =>
      (0 until 5).map { v =>
        val words = (0 until 40).map(w => s"tok${t}_$w").updated(37, s"var$v")
        (t * 10L + v, words.mkString(" "))
      }
    }.toDF("doc_id", "text")
    val exact = Dedup.ngramJaccardPairs(cdocs, 0.8).select("i", "j")
    val cand = Dedup.lshCandidates(cdocs)
    val total = exact.count()
    val missed = exact.join(cand, Seq("i", "j"), "left_anti").count()
    assert(total >= 400, s"expected the 400 planted pairs, got $total")
    val recall = 1.0 - missed.toDouble / total
    assert(recall >= 0.85, s"correlated-corpus recall $recall ($missed/$total missed)")
  }

  test("minhash near-dups verified: no candidate below threshold survives") {
    val nd = Dedup.minhashNearDups(docs, 0.8)
    assert(nd.filter(col("jaccard") < 0.8).count() == 0)
  }

  test("LSH-then-verify near-dups equal the exact shingle-share formulation") {
    // the llm_ngram_jaccard gate runs nearDupPairs (8x2 banding) against
    // the EXACT oracle — this is the cross-check that the banding's
    // candidate recall at >=0.8 is total on the testdata
    val lsh = Dedup.nearDupPairs(docs, 0.8).select("i", "j")
    val exact = Dedup.ngramJaccardPairs(docs, 0.8).select("i", "j")
    assert(lsh.join(exact, Seq("i", "j"), "left_anti").count() == 0)
    assert(exact.join(lsh, Seq("i", "j"), "left_anti").count() == 0)
  }

  test("connected components label transitive chains with one cluster id") {
    val s = spark
    import s.implicits._
    val nodes = (1L to 7L).toDF("doc_id")
    // chain 1-2-3, pair 5-6; 4 and 7 isolated
    val edges = Seq((2L, 1L), (2L, 3L), (6L, 5L)).toDF("i", "j")
    val got = Dedup.connectedComponents(nodes, edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 7L))
  }

  test("connected components: driver union-find equals the distributed " +
      "min-label loop (incl. edges with endpoints outside the node set)") {
    val s = spark
    import s.implicits._
    val nodes = (1L to 9L).toDF("doc_id")
    // chain 1-2-3, triangle 5-6-7 plus a bridge THROUGH the out-of-set
    // node 20 (must NOT merge 8 and 9: label flow is induced on `nodes`)
    val edges = Seq((2L, 1L), (2L, 3L), (5L, 6L), (6L, 7L), (7L, 5L),
      (8L, 20L), (20L, 9L)).toDF("i", "j")
    def run() = Dedup.connectedComponents(nodes, edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaDriver = run()
    val viaCluster = Dedup.componentsDistributed(nodes, edges, 25).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaDriver == viaCluster)
    assert(viaDriver == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 5L, 8L -> 8L, 9L -> 9L))
  }

  test("dup clusters: every near-dup pair lands in the same cluster") {
    val labels = Dedup.dupClusters(docs, 0.8)
    val pairs = Dedup.nearDupPairs(docs, 0.8)
    val split = pairs
      .join(labels.select(col("doc_id").as("i"), col("cluster_id").as("ci")), "i")
      .join(labels.select(col("doc_id").as("j"), col("cluster_id").as("cj")), "j")
      .filter(col("ci") =!= col("cj"))
    assert(split.isEmpty)
    // canonical representative is the component minimum
    assert(labels.filter(col("cluster_id") > col("doc_id")).isEmpty)
  }

  test("hash sample at lower fraction is a subset of the higher fraction") {
    val lo = Sampling.hashSample(docs, col("doc_id"), 0.2)
    val hi = Sampling.hashSample(docs, col("doc_id"), 0.5)
    assert(lo.join(hi, Seq("doc_id"), "left_anti").isEmpty)
    assert(lo.count() > 0 && lo.count() < hi.count())
  }

  test("topNPerStratum returns at most n rows per stratum, deterministically") {
    val a = Sampling.topNPerStratum(docs, col("lang"), 5, col("doc_id"))
    val b = Sampling.topNPerStratum(docs, col("lang"), 5, col("doc_id"))
    assert(a.groupBy("lang").count().filter(col("count") > 5).isEmpty)
    assert(a.select("doc_id").except(b.select("doc_id")).isEmpty)
  }

  test("sampling / scrub / chunk compile to shuffle-free narrow plans") {
    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.toString.sliding(8).count(_ == "Exchange")
    assert(exchanges(Sampling.stratifiedSample(docs, col("lang"),
      Map("en" -> 0.5), 0.1, key = col("doc_id"))) == 0)
    assert(exchanges(Sampling.hashSample(docs, col("doc_id"), 0.3)) == 0)
    assert(exchanges(docs.select(TextOps.scrubPii(col("text")))) == 0)
    assert(exchanges(TextOps.chunk(docs)) == 0)
    // the per-stratum reservoir is the one that legitimately shuffles once
    assert(exchanges(Sampling.topNPerStratum(docs, col("lang"), 5,
      key = col("doc_id"))) == 1)
  }

  test("incremental dedup equals the cross-set slice of full near-dup pairs") {
    val newB = docs.filter(col("doc_id") % 2 === 1)
    val corp = docs.filter(col("doc_id") % 2 === 0)
    val inc = Dedup.incrementalNearDups(newB, corp, 0.8).select("i", "j")
    // full-corpus pairs restricted to (odd, even) in either orientation
    val full = Dedup.nearDupPairs(docs, 0.8).select("i", "j")
    val cross = full.filter(col("i") % 2 === 1 && col("j") % 2 === 0)
      .unionByName(full.filter(col("i") % 2 === 0 && col("j") % 2 === 1)
        .select(col("j").as("i"), col("i").as("j")))
    assert(inc.except(cross).isEmpty && cross.except(inc).isEmpty)
  }

  test("scrubPii redacts emails, IPs, and phones; leaves clean text alone") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      (1L, "mail bob.smith+x@corp.example.org now"),
      (2L, "server at 192.168.10.250 is down"),
      (3L, "call +44 (20) 7946-0958 today"),
      (4L, "nothing sensitive here at all"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.scrubPii(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows(1L) == "mail <EMAIL> now")
    assert(rows(2L) == "server at <IP> is down")
    assert(rows(3L) == "call <PHONE> today")
    assert(rows(4L) == "nothing sensitive here at all")
  }

  test("chunking covers every token; consecutive chunks overlap") {
    val s = spark
    import s.implicits._
    val one = Seq((1L, (1 to 95).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val ch = TextOps.chunk(one, chunkTokens = 40, overlap = 10)
      .orderBy("chunk_id").collect()
    // stride 30: starts at 0/30/60/90 → 4 chunks, last truncated to 5
    assert(ch.map(_.getAs[Long]("n_tokens")).toSeq == Seq(40L, 40L, 35L, 5L))
    assert(ch(0).getAs[String]("chunk_text").startsWith("w1 w2 "))
    // chunk k's last `overlap` tokens = chunk k+1's first `overlap` tokens
    val t1 = ch(0).getAs[String]("chunk_text").split(" ").takeRight(10).toSeq
    val t2 = ch(1).getAs[String]("chunk_text").split(" ").take(10).toSeq
    assert(t1 == t2)
    // full corpus invariant: distinct covered tokens == n_tokens of the doc
    val stats = TextOps.chunk(docs).groupBy("doc_id")
      .agg(max(col("chunk_id")).as("mk"), sum(col("n_tokens")).as("tot"))
    assert(stats.filter(col("tot") < col("mk") * 80 + 1).isEmpty)
  }

  test("exact dedup maps identical normalized text to one canonical id") {
    import graft.TestSpark.spark.implicits._
    val d = Seq((1L, "Hello   World"), (2L, "hello world"), (3L, "other"))
      .toDF("doc_id", "text")
    val out = Dedup.exactDedup(d).orderBy("doc_id").collect()
    assert(out(0).getLong(1) == 1L && out(0).getInt(2) == 0)
    assert(out(1).getLong(1) == 1L && out(1).getInt(2) == 1)
    assert(out(2).getLong(1) == 3L && out(2).getInt(2) == 0)
  }

  test("simhash of near-identical docs has small hamming distance") {
    import graft.TestSpark.spark.implicits._
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy cat again and again"),
      (3L, "completely different words appear here nothing shared at all"))
      .toDF("doc_id", "text")
    val hs = Dedup.simhash(d).orderBy("doc_id").collect().map(_.getLong(1))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(hs(0), hs(1)) < ham(hs(0), hs(2)))
    assert(ham(hs(0), hs(1)) <= 12)
  }

  test("brute-force top-k: k rows per query, ranked by similarity") {
    val out = Similarity.bruteForceTopK(emb.filter(col("vec_id") === 0), emb, 5)
      .orderBy("rank").collect()
    assert(out.length == 5)
    val sims = out.map(_.getAs[Double]("sim"))
    assert(sims.sameElements(sims.sorted.reverse))
    assert(!out.map(_.getAs[Long]("nid")).contains(0L))
  }

  test("LSH top-k recalls high-similarity neighbors (planted near-dups)") {
    // plant perturbed copies: copy vec_id v → v+10000 with first element
    // nudged; the copy's true nearest neighbor is its original (cos≈0.999).
    // Multi-table LSH must recall those; weakly-similar neighbors (this
    // corpus maxes at cos≈0.5) are honestly out of reach at T·2^-P pruning.
    val base = emb.filter(col("vec_id") % 25 === 0)
    val copies = base.select((col("vec_id") + 10000).as("vec_id"),
      transform(col("embedding"),
        (x, i) => when(i === 0, x + lit(0.05f)).otherwise(x)).as("embedding"))
    val corpus = emb.select(col("vec_id"), col("embedding")).union(copies)
    val found = Similarity.lshTopK(copies, corpus, 1)
      .filter(col("nid") === col("qid") - 10000).count().toDouble
    val recall = found / copies.count()
    assert(recall >= 0.9, s"recall $recall")
  }

  test("langId picks the marker-dominant language") {
    import graft.TestSpark.spark.implicits._
    val d = Seq(
      (1L, "the cat is on the mat and the dog is here"),
      (2L, "der hund ist gross und die katze ist klein mit der maus"),
      (3L, "el perro es grande y la casa es blanca con el gato"),
      (4L, "zzz qqq www")).toDF("doc_id", "text")
    val out = d.select(col("doc_id"), TextOps.langId(col("text")).as("lang"))
      .orderBy("doc_id").collect().map(_.getString(1))
    assert(out.sameElements(Array("en", "de", "es", "und")))
  }

  test("text stats integer invariants") {
    val s = TextOps.stats(docs)
    assert(s.filter(col("n_uniq") > col("n_tokens")).count() == 0)
    assert(s.filter(col("stop_cnt") > col("n_tokens")).count() == 0)
    assert(s.filter(col("n_bpe") < col("n_tokens")).count() == 0) // BPE at least word-level
  }

  test("image dHash: every fixture decodes; planted twin within 2 bits") {
    val media = Multimodal.imageFixture(docs)
    val hashes = Multimodal.imageDHash(media)
    // the synthetic BMPs are all well-formed -> one hash per image
    assert(hashes.count() == media.count())
    // the perturbation touches thumbnail cells (0,0),(0,1) only -> at most
    // the two dhash bits they feed can differ
    val planted = hashes.as("a").join(hashes.as("b"),
        col("a.doc_id") + Multimodal.PlantOffset === col("b.doc_id"))
      .select(bit_count(col("a.dhash").bitwiseXOR(col("b.dhash"))).as("d"))
    assert(planted.count() ==
      docs.filter(col("doc_id") % Multimodal.PlantEvery === 0).count())
    assert(planted.filter(col("d") > 2).count() == 0)
    // undecodable payloads yield no row, never a garbage hash
    val s = spark
    import s.implicits._
    val junk = Seq((1L, "definitely not a bitmap".getBytes)).toDF("doc_id", "media")
    assert(Multimodal.imageDHash(junk).count() == 0)
  }

  test("image near-dups: banded search EXACTLY equals brute-force Hamming") {
    val hashes = Multimodal.imageDHash(Multimodal.imageFixture(docs))
    val out = Multimodal.imageNearDups(hashes)
    // pigeonhole completeness: maxHamming+1 bands make the banded join a
    // pure execution strategy — brute-force all-pairs must match exactly
    val brute = hashes.as("a").crossJoin(hashes.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"),
        bit_count(col("a.dhash").bitwiseXOR(col("b.dhash"))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= Multimodal.ImageMaxHamming)
    assert(out.exceptAll(brute).count() == 0)
    assert(brute.exceptAll(out).count() == 0)
    // every planted twin is found (hamming <= 2 <= budget)
    val plantedFound = out.filter(col("j") === col("i") + Multimodal.PlantOffset)
    assert(plantedFound.count() ==
      docs.filter(col("doc_id") % Multimodal.PlantEvery === 0).count())
  }

  test("audio fingerprint: every fixture decodes; planted twin within 2 bits") {
    val media = Multimodal.audioFixture(docs)
    val fps = Multimodal.audioFingerprint(media)
    assert(fps.count() == media.count())
    // the +500 sample shift touches frames 0-1 only -> bits 0 and 1
    val planted = fps.as("a").join(fps.as("b"),
        col("a.doc_id") + Multimodal.PlantOffset === col("b.doc_id"))
      .select(bit_count(col("a.afp").bitwiseXOR(col("b.afp"))).as("d"))
    assert(planted.count() ==
      docs.filter(col("doc_id") % Multimodal.PlantEvery === 0).count())
    assert(planted.filter(col("d") > 2).count() == 0)
    // non-WAV and truncated payloads yield no row
    val s = spark
    import s.implicits._
    val junk = Seq((1L, "not audio at all, certainly".getBytes),
      (2L, "RIFF1234WAVE".getBytes)).toDF("doc_id", "media")
    assert(Multimodal.audioFingerprint(junk).count() == 0)
  }

  test("audio near-dups: banded search EXACTLY equals brute-force Hamming") {
    val fps = Multimodal.audioFingerprint(Multimodal.audioFixture(docs))
    val out = Multimodal.audioNearDups(fps)
    val brute = fps.as("a").crossJoin(fps.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"),
        bit_count(col("a.afp").bitwiseXOR(col("b.afp"))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= Multimodal.AudioMaxHamming)
    assert(out.exceptAll(brute).count() == 0)
    assert(brute.exceptAll(out).count() == 0)
    val plantedFound = out.filter(col("j") === col("i") + Multimodal.PlantOffset)
    assert(plantedFound.count() ==
      docs.filter(col("doc_id") % Multimodal.PlantEvery === 0).count())
  }

  test("video fingerprint: every fixture frame hashes; planted twin within budget") {
    val media = Multimodal.videoFixture(docs)
    val fps = Multimodal.videoFingerprint(media)
    assert(fps.count() == media.count() * Multimodal.VideoFrames)
    // the corner perturbation touches frames 0-1, <=4 bits each
    val planted = fps.as("a").join(fps.as("b"),
        col("a.doc_id") + Multimodal.PlantOffset === col("b.doc_id") &&
          col("a.frame") === col("b.frame"))
      .groupBy(col("a.doc_id"))
      .agg(sum(bit_count(col("a.vfp").bitwiseXOR(col("b.vfp")))).as("d"))
    assert(planted.count() ==
      docs.filter(col("doc_id") % Multimodal.PlantEvery === 0).count())
    assert(planted.filter(col("d") > 8).count() == 0)
    // malformed payloads (bad magic / wrong dims / truncated) yield no rows
    val s = spark
    import s.implicits._
    val junk = Seq((1L, "not a video".getBytes),
      (2L, Multimodal.syntheticGvid(3L, perturb = false).dropRight(1)))
      .toDF("doc_id", "media")
    assert(Multimodal.videoFingerprint(junk).count() == 0)
  }

  test("video near-dups: banded search EXACTLY equals brute-force total Hamming") {
    val fps = Multimodal.videoFingerprint(Multimodal.videoFixture(docs))
    val out = Multimodal.videoNearDups(fps)
    val brute = fps.as("a").join(fps.as("b"),
        col("a.frame") === col("b.frame") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .agg(sum(bit_count(col("a.vfp").bitwiseXOR(col("b.vfp")))).as("hamming"))
      .filter(col("hamming") <= Multimodal.VideoMaxHamming)
    assert(out.exceptAll(brute).count() == 0)
    assert(brute.exceptAll(out).count() == 0)
    val plantedFound = out.filter(col("j") === col("i") + Multimodal.PlantOffset)
    assert(plantedFound.count() ==
      docs.filter(col("doc_id") % Multimodal.PlantEvery === 0).count())
  }

  test("multimodal featurizer: histogram sums to payload length") {
    val m = Multimodal.mediaTable(spark, sf)
    val f = Multimodal.featurize(m)
      .select(col("doc_id"), aggregate(col("feature"), lit(0.0), (a, x) => a + x).as("s"))
    val bad = f.join(m.select(col("doc_id"), col("n_bytes")), "doc_id")
      .filter(col("s") =!= col("n_bytes").cast("double"))
    assert(bad.count() == 0)
  }

  test("frame slices partition the payload") {
    val m = Multimodal.mediaTable(spark, sf)
    val fr = Multimodal.frameSlices(m, 4)
    val sums = fr.groupBy("doc_id").agg(sum(length(col("frame"))).as("tot"),
      count(lit(1)).as("n"))
    val bad = sums.join(m.select(col("doc_id"), col("n_bytes")), "doc_id")
      .filter(col("tot") =!= col("n_bytes") || col("n") =!= 4)
    assert(bad.count() == 0)
  }

  test("winnowing: shared substring >= w+k-1 chars shares a fingerprint") {
    import graft.TestSpark.spark.implicits._
    // k=8, w=4: any common substring of length >= 11 must share a print
    val shared = "zqxjvkwpbfy" // 11 chars, unlikely elsewhere
    val d = Seq(
      (1L, s"alpha beta $shared gamma delta epsilon"),
      (2L, s"completely different words $shared and more here"),
      (3L, "no overlap with the others at all whatsoever"),
      (4L, "tiny")) // shorter than k: empty fingerprint set
      .toDF("doc_id", "text")
    val fps = TextOps.winnowFingerprints(d)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert((fps(1L) intersect fps(2L)).nonEmpty)
    assert((fps(1L) intersect fps(3L)).isEmpty)
    assert(fps(4L).isEmpty)
    // winnow is a sample of the k-gram hashes: strictly fewer prints than
    // positions, never empty for a real doc
    assert(fps(1L).nonEmpty && fps(3L).nonEmpty)
  }

  test("bm25: term-bearing docs only, k bound, idf orders rare above common") {
    import graft.TestSpark.spark.implicits._
    val d = Seq(
      (1L, "rare word here"), // 1 hit of the rare term
      (2L, "common common common filler filler"), // 3 hits of the common term
      (3L, "common filler text"),
      (4L, "common and rare together"),
      (5L, "nothing relevant at all")).toDF("doc_id", "text")
    val r = Ranking.bm25TopK(d, Seq("rare", "common"), 10).collect()
    assert(!r.map(_.getLong(0)).contains(5L)) // zero-score excluded
    assert(r.length == 4)
    val byId = r.map(x => x.getLong(0) -> x.getDouble(1)).toMap
    // doc 4 has both terms: must outrank doc 3 (one common hit, same-ish dl)
    assert(byId(4L) > byId(3L))
    // a single rare-term hit outweighs a single common-term hit (idf)
    assert(byId(1L) > byId(3L))
    // k bound respected
    assert(Ranking.bm25TopK(d, Seq("common"), 2).count() == 2)
  }

  test("decontaminate: verbatim benchmark copy flagged, clean doc not") {
    import graft.TestSpark.spark.implicits._
    val bench = Seq(
      (100L, "the quick brown fox jumps over the lazy dog today"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"), // copy
      (2L, "prefix words the quick brown fox jumps and then diverges"), // partial
      (3L, "entirely unrelated text with no overlap whatsoever here"))
      .toDF("doc_id", "text")
    val hits = Dedup.decontaminate(corpus, bench, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // the copy shares all 8 distinct 3-gram shingles
    assert(hits.contains((1L, 100L, 8L)))
    // partial overlap: "the quick brown","quick brown fox","brown fox jumps" = 3
    assert(hits.contains((2L, 100L, 3L)))
    assert(!hits.exists(_._1 == 3L))
  }

  test("repetition: gopher drop flags repetitive docs, passes diverse ones") {
    import graft.TestSpark.spark.implicits._
    val d = Seq(
      (1L, "spam spam spam spam spam spam spam spam"), // all dup + one bigram
      (2L, "every word in this sentence is fully distinct today"),
      (3L, "x")) // single token: no bigrams, no dups
      .toDF("doc_id", "text")
    val m = TextOps.repetitionStats(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    assert(m(1L) == ((8L, 7L, 7L, 7L, 1L))) // 8 toks, 7 dups, bigram "spam spam" x7, drop
    assert(m(2L)._2 == 0L && m(2L)._5 == 0L) // no dups, kept
    assert(m(3L) == ((1L, 0L, 0L, 0L, 0L))) // degenerate: no bigrams, kept
  }

  test("hard negatives: every mined neighbor carries a different label") {
    val out = Similarity.ivfHardNegatives(
      emb.filter(col("vec_id") % 25 === 0), emb, 5)
    val j = out
      .join(emb.select(col("vec_id").as("qid"), col("label").as("ql")), "qid")
      .join(emb.select(col("vec_id").as("nid"), col("label").as("nl")), "nid")
    assert(j.count() > 0)
    assert(j.filter(col("ql") === col("nl")).count() == 0)
    assert(out.filter(col("rank") < 1 || col("rank") > 5).count() == 0)
  }

  test("dsir: target-domain docs average a higher importance weight") {
    val w = Curation.dsirWeights(docs, col("source") === "src0")
    assert(w.count() == docs.count())
    val bySrc = w.join(docs.select("doc_id", "source"), "doc_id")
      .groupBy(col("source") === "src0").agg(avg("weight").as("aw"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(bySrc(true) > bySrc(false)) // the resampling signal exists
  }

  test("bpe encode: ranked merges apply leftmost-first through codegen") {
    import graft.TestSpark.spark.implicits._
    val merges = Seq("s" -> "c", "sc" -> "a", "sca" -> "n", "e" -> "r")
    val out = Seq("scan", "scanner", "xyz", "").toDF("w")
      .select(graft.functions.BpeEncode($"w", merges).as("t"))
      .collect().map(_.getSeq[String](0))
    assert(out(0) == Seq("scan"))      // full chain fires in rank order
    assert(out(1) == Seq("scan", "n", "er")) // partial merge + suffix
    assert(out(2) == Seq("x", "y", "z"))     // no applicable merge
    assert(out(3) == Seq())                  // empty word
  }

  test("kmeans refine: covers corpus, clusters are seeds, objective rises") {
    val seed = Similarity.kmeansRefine(emb, iters = 0) // pure seed assignment
    val ref = Similarity.kmeansRefine(emb, iters = 2)
    assert(ref.count() == emb.count())
    val seedIds = seed.select("cluster").distinct().collect().map(_.getLong(0)).toSet
    val refIds = ref.select("cluster").distinct().collect().map(_.getLong(0)).toSet
    assert(refIds.subsetOf(seedIds)) // cells only carry seed ids
    // Lloyd monotonicity: mean cosine to the assigned centroid must not drop
    def obj(df: org.apache.spark.sql.DataFrame): Double =
      df.agg(avg("sim")).collect()(0).getDouble(0)
    assert(obj(ref) >= obj(seed) - 1e-9)
  }

  test("paragraph dedup: first occurrence survives, docs reassemble in order") {
    import graft.TestSpark.spark.implicits._
    val d = Seq(
      (1L, "A\n\nB"),
      (2L, "B\n\nC"),
      (3L, "B\n\nB")) // every paragraph seen earlier -> empty doc
      .toDF("doc_id", "text")
    val m = Dedup.dedupParagraphs(d).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(m(1L) == (("A\n\nB", 2L, 0L)))
    assert(m(2L) == (("C", 1L, 1L)))
    assert(m(3L) == (("", 0L, 2L)))
  }

  test("web: extractText strips blocks/tags and single-decodes entities") {
    import graft.TestSpark.spark.implicits._
    val d = Seq(
      (1, "<p>Hello &amp;lt; <b>World</b></p><!-- note --><script>var a = 1 < 2;</script>"),
      (2, "<style type=\"text/css\">p { }</style>A&nbsp;B &#39;c&#39; &quot;d&quot;"),
      (3, "plain text,  extra   spaces"),
      (4, "<SCRIPT>upper();</SCRIPT><STYLE>x</STYLE>keep")) // case-insensitive flags
      .toDF("id", "html")
    val m = d.select($"id", Web.extractText($"html").as("t"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    // &amp;lt; decodes ONCE (to &lt;): &amp; is replaced last
    assert(m(1) == "Hello &lt; World")
    assert(m(2) == "A B 'c' \"d\"")
    assert(m(3) == "plain text, extra spaces")
    assert(m(4) == "keep")
  }

  test("web: canonicalizeUrl collapses crawl spelling variants to one key") {
    import graft.TestSpark.spark.implicits._
    val d = Seq(
      (1, "HTTPS://WWW.Example.COM:443/a/b/?b=2&utm_source=x&a=1#frag"),
      (2, "https://www.example.com/a/b?a=1&b=2"), // already canonical twin of 1
      (3, "http://example.com:80"),               // empty path -> "/", default port
      (4, "http://example.com:8080/x"),           // NON-default port kept
      (5, "https://e.com/x?utm_source=1&fbclid=z"), // query fully dropped -> no "?"
      (6, "https://e.com/x?ref=a&refresh=1"))     // ref= dropped, refresh= kept
      .toDF("id", "url")
    val m = d.select($"id", Web.canonicalizeUrl($"url").as("c"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(m(1) == "https://www.example.com/a/b?a=1&b=2")
    assert(m(2) == m(1))
    assert(m(3) == "http://example.com/")
    assert(m(4) == "http://example.com:8080/x")
    assert(m(5) == "https://e.com/x")
    assert(m(6) == "https://e.com/x?refresh=1")
  }

  test("lm score: in-split docs score lower; every backoff arm fires") {
    val out = Curation.lmScore(docs, col("source") === "src0")
    // every doc has >= 3 tokens in the fixture, so nothing drops
    assert(out.count() == docs.count())
    assert(out.filter(col("lm_score").isNull || col("n_trigrams") < 1).count() == 0)
    // the training split's own trigrams are all seen -> lower surprisal
    val bySplit = out.join(docs.select("doc_id", "source"), "doc_id")
      .groupBy(col("source") === "src0").agg(avg("lm_score").as("s"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(bySplit(true) < bySplit(false))
    // backoff genuinely fires: an out-of-split doc scores STRICTLY worse
    // than the pure case-1 floor of -ln(1) = 0 and the arms disagree
    assert(bySplit(false) > bySplit(true) + 0.1)
  }

  test("hash classifier: scores in (0,1), keep tracks the 0.5 line") {
    val dim = 1024
    val w = Curation.demoClassifierWeights(spark, dim)
    assert(w.count() == dim)
    val out = Curation.hashClassifierScore(docs, w, dim)
    assert(out.count() == docs.count())
    assert(out.filter(col("score") <= 0.0 || col("score") >= 1.0).count() == 0)
    assert(out.filter((col("score") >= 0.5) =!= col("keep")).count() == 0)
    // a nonzero-bias model shifts every score the same direction
    val shifted = Curation.hashClassifierScore(docs, w, dim, bias = 2.0)
    val j = out.select(col("doc_id"), col("score").as("s0"))
      .join(shifted.select(col("doc_id"), col("score").as("s1")), "doc_id")
    assert(j.filter(col("s1") <= col("s0")).count() == 0)
  }

  test("robots filter: longest-prefix precedence, whole-domain, no-rule pass") {
    import graft.TestSpark.spark.implicits._
    val d = Seq(
      (1L, "https://www.ex.com/a/181?x=1"), // both /a/1 and /a/181 match
      (2L, "https://ex.com/a/19"),          // /a/1 matches
      (3L, "https://ex.com/b/1"),           // no rule matches
      (4L, "https://other.com/a/181"))      // domain without rules
      .toDF("doc_id", "url")
    val rules = Seq("ex.com" -> "/a/1", "ex.com" -> "/a/181")
      .toDF("domain", "prefix")
    val m = Web.robotsFilter(d, rules).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(2), Option(r.getString(3)))).toMap
    assert(m(1) == ((true, Some("/a/181")))) // longest wins
    assert(m(2) == ((true, Some("/a/1"))))
    assert(m(3) == ((false, None)))
    assert(m(4) == ((false, None)))
  }

  test("fertility: totals reconcile with stats; fertility >= 1") {
    val rep = Curation.fertilityReport(docs)
    assert(rep.agg(sum("n_docs")).collect()(0).getLong(0) == docs.count())
    // pretokenizer units never merge across whitespace -> nb >= nw per doc
    assert(rep.filter(col("fertility") < 1.0).count() == 0)
    val st = TextOps.stats(docs)
    assert(rep.agg(sum("n_bpe")).collect()(0).getLong(0) ==
      st.agg(sum("n_bpe")).collect()(0).getLong(0))
    assert(rep.agg(sum("n_words")).collect()(0).getLong(0) ==
      st.agg(sum("n_tokens")).collect()(0).getLong(0))
  }

  test("pack report: doc/token totals reconcile with the packing itself") {
    val rep = Curation.packReport(docs, 256)
    val pack = Curation.packSequences(docs, 256)
    assert(rep.agg(sum("n_docs")).collect()(0).getLong(0) == docs.count())
    val tokTotal = pack.agg(sum("n_tokens")).collect()(0).getLong(0)
    assert(rep.agg(sum("total_tokens")).collect()(0).getLong(0) == tokTotal)
    // fill rate is a utilization: positive, and > 1 only via spill
    assert(rep.filter(col("fill_rate") <= 0).count() == 0)
    assert(rep.filter(col("fill_rate") > 1.0 && col("spill_seqs") === 0)
      .count() == 0)
  }

  test("curation filter: keep = quality AND no blocklist hit; batch form") {
    val out = Curation.curationFilter(docs, Seq("dup", "slow", "xyzzy"))
    assert(out.count() == docs.count())
    assert(out.filter((col("quality") === 1 && col("n_blocked") === 0)
      =!= col("keep")).count() == 0)
    val kept = out.filter(col("keep")).count()
    assert(kept > 0 && kept < out.count())
    // consistency with the standalone operators it composes
    val bl = Curation.blocklistFilter(docs, Seq("dup", "slow", "xyzzy"))
      .select(col("doc_id"), col("n_blocked").as("nb2"))
    assert(out.join(bl, "doc_id")
      .filter(col("n_blocked") =!= col("nb2")).count() == 0)
  }

  test("length trim: ~90% kept per source, bounds ordered, flag consistent") {
    val out = Curation.lengthTrim(docs)
    assert(out.count() == docs.count())
    assert(out.filter(col("lo_bound") > col("hi_bound")).count() == 0)
    assert(out.filter((col("n_tokens") >= col("lo_bound") &&
      col("n_tokens") <= col("hi_bound")) =!= col("keep")).count() == 0)
    // a [p5, p95] band keeps roughly 90% of each source (exact fraction
    // depends on ties; 25-doc sources keep 23/25 at minimum interpolation)
    val frac = out.filter(col("keep")).count().toDouble / out.count()
    assert(frac > 0.85 && frac <= 0.96)
  }

  test("source overlap: symmetric-free pairs, consistent with clusters") {
    val out = Dedup.sourceOverlap(docs, 0.8)
    assert(out.count() > 0)
    // strictly ordered pairs only (no self-pairs, no mirrored duplicates)
    assert(out.filter(col("src_a") >= col("src_b")).count() == 0)
    // every reported pair is backed by a real multi-source cluster
    val cs = Dedup.dupClusters(docs, 0.8)
      .join(docs.select("doc_id", "source"), "doc_id")
      .select("cluster_id", "source").distinct()
    val expected = cs.as("a").join(cs.as("b"),
        col("a.cluster_id") === col("b.cluster_id") &&
          col("a.source") < col("b.source"))
      .select(col("a.source"), col("b.source")).distinct().count()
    assert(out.count() == expected)
  }

  test("aho-corasick: phrases, prefix patterns, absent patterns") {
    import graft.TestSpark.spark.implicits._
    val pats = Seq("hash join", "slo", "slow", "dup", "zzz")
    val d = Seq(
      (1L, "batch window spark order data"), // no hits
      (2L, "a slow hash join here"),         // phrase + slo + slow
      (3L, "slo"),                           // exact prefix pattern only
      (4L, "dupdup zzzz"),                   // repeats + overlap
      (5L, "")).toDF("doc_id", "text")
    val m = Curation.substringBlocklist(d, pats).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(m(1) == ((0L, "")))
    assert(m(2) == ((3L, "hash join,slo,slow")))
    assert(m(3) == ((1L, "slo")))
    assert(m(4) == ((2L, "dup,zzz")))
    assert(m(5) == ((0L, "")))
  }

  test("vocab coverage: monotone in k, clamps at |V|, full mass at the top") {
    val out = Curation.vocabCoverage(docs, Seq(1L, 3L, 10L, 100L))
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.map(_._1).toSeq == Seq(1L, 3L, 10L, 100L))
    // coverage and covered mass are monotone non-decreasing in k
    assert(out.sliding(2).forall { case Array(a, b) =>
      b._3 >= a._3 && b._4 >= a._4 })
    // k beyond the vocabulary clamps to |V| and covers everything
    val last = out.last
    assert(last._2 < 100L && last._4 == 1.0)
    // a distributed rank must agree with a plain global sort
    val total = docs.select(explode(TextOps.tokens(col("text")))).count()
    assert(last._3 == total)
  }

  test("blocklist filter: distinct-term counts and the drop split") {
    val out = Curation.blocklistFilter(docs, Seq("dup", "slow", "xyzzy"))
    assert(out.count() == docs.count())
    assert(out.filter(col("n_blocked") > 2).count() == 0) // xyzzy never hits
    val dropped = out.filter(col("drop")).count()
    assert(dropped > 0 && dropped < out.count())
    assert(out.filter((col("n_blocked") > 0) =!= col("drop")).count() == 0)
  }

  test("domain reputation: re-crawl domains flag dup; hostOf normalizes") {
    import graft.TestSpark.spark.implicits._
    val hosts = Seq("https://WWW.Ex.COM:443/a", "http://ex.com:8080/b",
        "https://sub.ex.com/c").toDF("url")
      .select(Web.hostOf(col("url")).as("h")).collect().map(_.getString(0))
    assert(hosts.toSeq == Seq("ex.com", "ex.com", "sub.ex.com"))

    val even = col("doc_id") % 2 === 0
    val page = when(col("doc_id") % 20 < 10, col("doc_id"))
      .otherwise(col("doc_id") % 20)
    val url = concat(lit("https://"),
      when(even, lit("www.")).otherwise(lit("")),
      col("source"), lit(".example.com/a/"), page.cast("string"),
      when(even, lit("?utm_source=x")).otherwise(lit("")))
    val out = Web.domainReputation(
      docs.select(col("doc_id"), url.as("url"), col("text")))
    val rows = out.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getBoolean(4))).toMap
    assert(rows.size == 20)
    assert(rows.values.map(_._1).sum == docs.count())
    // sources 0-9 publish unique pages; 10-19 re-crawl ten pages
    (0 until 20).foreach { n =>
      val (nd, np, dup) = rows(s"src$n.example.com")
      if (n < 10) { assert(np == nd && !dup) }
      else { assert(np < nd && dup) }
    }
  }

  test("semantic decon: verbatim eval vectors self-flag at sim 1.0") {
    val bench = emb.filter(col("vec_id") % 25 === 0)
    // corpus INCLUDES the eval split -> every eval vector must self-flag
    val out = Similarity.semanticDecontaminate(emb, bench, 0.35)
    assert(out.count() == emb.count())
    val self = out.filter(col("vec_id") % 25 === 0)
    assert(self.filter(col("max_sim") =!= 1.0 || !col("contaminated")).count() == 0)
    assert(out.filter((col("max_sim") >= 0.35) =!= col("contaminated")).count() == 0)
    // and the flag is non-trivial on the disjoint corpus
    val disjoint = Similarity.semanticDecontaminate(
      emb.filter(col("vec_id") % 25 =!= 0), bench, 0.35)
    val n = disjoint.filter(col("contaminated")).count()
    assert(n > 0 && n < disjoint.count())
  }

  test("classifier train: GD reduces log-loss and separates the label") {
    val dim = 1024
    val y = col("source") === "src0"
    val w0 = Curation.trainHashClassifier(docs, y, dim, iters = 0)
    val w3 = Curation.trainHashClassifier(docs, y, dim, iters = 3)
    def loss(w: org.apache.spark.sql.DataFrame): Double =
      Curation.hashClassifierScore(docs, w, dim)
        .join(docs.select(col("doc_id"), y.as("yy")), "doc_id")
        .select(avg(when(col("yy"), -log(col("score")))
          .otherwise(-log(lit(1.0) - col("score")))).as("l"))
        .collect()(0).getDouble(0)
    val (l0, l3) = (loss(w0), loss(w3))
    assert(math.abs(l0 - math.log(2.0)) < 1e-4) // zero weights -> p = 0.5
    assert(l3 < l0)
    val sc = Curation.hashClassifierScore(docs, w3, dim)
      .join(docs.select(col("doc_id"), y.as("yy")), "doc_id")
      .groupBy("yy").agg(avg("score").as("s"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(sc(true) > sc(false)) // trained weights rank target docs higher
  }

  test("unicode norm: NFC composes, whitespace collapses, controls strip") {
    import graft.TestSpark.spark.implicits._
    def cp(i: Int) = new String(Character.toChars(i))
    val d = Seq(
      (1L, "cafe" + cp(0x301)),                    // NFC composes to café
      (2L, "a" + cp(0x9) + "b" + cp(0xA0) + "c"),  // tab + NBSP -> spaces
      (3L, "x" + cp(0x1) + "y"),                   // SOH stripped
      (4L, "  padded  "),                          // runs collapse + trim
      (5L, "already clean"))                       // fast path: unchanged
      .toDF("doc_id", "text")
    val m = TextOps.cleanText(d).collect()
      .map(r => r.getLong(0) -> (r.getString(4), r.getBoolean(3),
        r.getLong(1), r.getLong(2))).toMap
    assert(m(1) == (("caf" + cp(0xE9), true, 5L, 4L)))
    assert(m(2)._1 == "a b c")
    assert(m(3)._1 == "xy")
    assert(m(4) == (("padded", true, 10L, 6L)))
    assert(m(5) == (("already clean", false, 13L, 13L)))
  }

  test("bpe merge-once: non-overlapping leftmost fold through codegen") {
    import graft.TestSpark.spark.implicits._
    val out = Seq(Seq("a", "a", "a"), Seq("a", "a", "a", "a"),
        Seq("x", "a", "b"), Seq.empty[String])
      .toDF("s").select(graft.functions.BpeMergeOnce($"s", "a", "a").as("t"))
      .collect().map(_.getSeq[String](0))
    assert(out(0) == Seq("aa", "a"))   // overlap: leftmost wins, no re-merge
    assert(out(1) == Seq("aa", "aa"))  // two disjoint occurrences both fire
    assert(out(2) == Seq("x", "a", "b")) // pair absent -> unchanged
    assert(out(3) == Seq())
  }

  test("bpe train: ranks ordered, counts non-increasing, operands constructible") {
    val merges = TextOps.bpeTrain(docs, 8)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(merges.map(_._1).toSeq == (0L until 8L))
    // best-pair count can never rise: existing pairs only lose mass and a
    // new pair's count is bounded by the merge that created its symbol
    assert(merges.sliding(2).forall { case Array(a, b) => b._4 <= a._4 })
    // every operand is a single char or the result of an EARLIER merge
    val built = scala.collection.mutable.Set[String]()
    merges.foreach { case (_, l, r, _) =>
      assert(l.length == 1 || built.contains(l), s"left '$l' not constructible")
      assert(r.length == 1 || built.contains(r), s"right '$r' not constructible")
      built += (l + r)
    }
    // applying the learned table shrinks the corpus token count vs chars
    val learned = merges.map(m => (m._2, m._3)).toSeq
    val enc = TextOps.bpeTokenCounts(docs, learned)
      .agg(sum("n_bpe_tokens")).collect()(0).getLong(0)
    val chars = docs.select(
        sum(length(regexp_replace(lower(col("text")), " ", ""))))
      .collect()(0).getLong(0)
    assert(enc < chars)
  }

  test("random projection: codegen'd expression matches the HOF spec form") {
    val native = Similarity.randomProject(emb, 16)
    val spec = randomProjectSpec(emb, 16)
    assert(native.count() == emb.count() * 16)
    assert(native.except(spec).count() == 0)
    assert(spec.except(native).count() == 0)
    // a projection is not degenerate: each output dim varies across rows
    val degenerate = native.groupBy("j")
      .agg(countDistinct(col("y")).as("nv")).filter(col("nv") < 2)
    assert(degenerate.count() == 0)
  }

  test("data checks: planted violations are counted; clean corpus passes") {
    val s = spark
    import s.implicits._
    val clean = docs
    val langs = Seq("en", "de", "es", "fr", "zh")
    val base = Curation.dataChecks(clean, langs, minChars = 0).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(base.values.forall(_ == 0L), base.toString)
    // plant: one dup key, one empty text, one bad lang, one bad source
    val bad = Seq(
      (0L, "", "xx", "weird src", 0L),
      (0L, "short", "en", "src1", 99L)) // n_chars lies about the length
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = Curation.dataChecks(clean.unionByName(bad), langs, minChars = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("doc_id_unique") >= 1 && got("text_not_empty") == 1 &&
      got("lang_in_domain") == 1 && got("source_well_formed") == 1 &&
      got("n_chars_consistent") >= 1 && got("min_length") >= 2, got.toString)
  }

  test("sketch probes are narrow: no join or shuffle in the probe plan") {
    // the whole point of the bloom/CMS probes is that the history/counts
    // never move again — the probe side must stay a narrow projection; a
    // Join or Exchange appearing here means someone broke the reference-
    // object shipping and reintroduced the shuffle the sketch exists to
    // avoid (the 100 TB killer for a cross-snapshot filter)
    val history = docs.filter(col("doc_id") % 2 === 0)
    val probe = Dedup.bloomDedup(docs, Dedup.bloomBitset(history))
    val p1 = probe.queryExecution.executedPlan.toString
    assert(!p1.contains("Join") && !p1.contains("Exchange"), p1)
    // probe over a parquet-backed term column (a local Seq const-folds to
    // a LocalTableScan, which would vacuously pass the no-join check)
    val est = TextOps.cmEstimate(docs.select(col("lang").as("term")),
      TextOps.cmBuild(docs))
    val p2 = est.queryExecution.executedPlan.toString
    assert(!p2.contains("Join") && !p2.contains("Exchange"), p2)
    // and both probes run inside whole-stage codegen (the "*(n)" span
    // prefix in the executed-plan string)
    assert(p1.contains("*(") && p2.contains("*("), p1)
  }

  test("drift report: KL >= 0 everywhere; planted off-profile source spikes") {
    val base = TextOps.driftReport(docs).collect()
    assert(base.nonEmpty && base.forall(_.getDouble(3) >= 0.0))
    // plant a source whose distribution is wildly off-profile
    val s = spark
    import s.implicits._
    val spam = (1 to 20).map(i =>
      (100000L + i, "buy pills casino buy pills casino buy " * 10, "en", "spamsrc", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val drifted = TextOps.driftReport(docs.unionByName(spam)).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    val others = drifted.filter(_._1 != "spamsrc").values
    assert(drifted("spamsrc") > 4 * others.max,
      s"spam ${drifted("spamsrc")} vs max ${others.max}")
  }

  test("boilerplate ngrams: salted two-stage equals the naive window; planted hit") {
    val s = spark
    import s.implicits._
    val boiler = "subscribe to our newsletter"
    val corpus = (1 to 12).map(i =>
      (i.toLong, s"unique lead $i words here " + boiler + s" trailing $i", "srcA"))
      .toDF("doc_id", "text", "source")
    val out = Curation.boilerplateNgrams(corpus, k = 3).collect()
    // every shingle inside the boilerplate phrase has df=12; rank 1 is one
    assert(out.nonEmpty && out.forall(_.getLong(2) >= 2))
    assert(out.filter(_.getLong(3) == 1L).forall(_.getLong(2) == 12L))
    // two-stage == naive single-window on the real corpus
    val twoStage = Curation.boilerplateNgrams(docs, k = 5)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("df").desc, col("s").asc)
    val naive = docs.select(col("doc_id"), col("source"))
      .join(Dedup.docShingles(docs), "doc_id")
      .groupBy(col("source"), col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("source"), col("s").as("shingle"), col("df"), col("rank"))
    assert(twoStage.except(naive).count() == 0 &&
      naive.except(twoStage).count() == 0)
  }

  test("column stats: exact on planted values, incl. nulls") {
    val s = spark
    import s.implicits._
    val tiny = Seq((1L, Some("a"), 10L), (2L, None, 20L), (3L, Some("a"), 10L))
      .toDF("id", "tag", "v")
    val got = Curation.columnStats(tiny, Seq("id", "tag", "v")).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3), r.getString(4))).toMap
    assert(got("id") == (0L, 3L, "1", "3"))
    assert(got("tag") == (1L, 1L, "a", "a"))
    assert(got("v") == (0L, 2L, "10", "20"))
  }

  test("hll: estimates within 5x standard error; layout-invariant") {
    val rep = TextOps.hllReport(docs).collect()
    assert(rep.nonEmpty)
    // 1.04/sqrt(1024) ~ 3.25% standard error; allow 5 sigma
    assert(rep.forall(_.getDouble(3) < 5 * 1.04 / math.sqrt(TextOps.HllM)),
      rep.map(r => s"${r.getString(0)}:${r.getDouble(3)}").mkString(","))
    val a = TextOps.hllReport(docs)
    val b = TextOps.hllReport(docs.repartition(7, col("doc_id")))
    assert(a.except(b).count() == 0 && b.except(a).count() == 0)
    // mergeability — the property that makes the sketch a partial
    // aggregate at cluster scale: the whole-corpus estimate equals the
    // estimate from slice sketches merged by register-wise max. Proven
    // here by scoping the WHOLE corpus under one key: the groupBy's
    // map-side partial aggregation IS the per-slice sketch + max-merge,
    // so equality with the per-source run's union is the merge law.
    val whole = TextOps.hllReport(docs, scope = lit("all")).collect()(0)
    val union = TextOps.hllReport(
      docs.repartition(13, col("source")), scope = lit("all")).collect()(0)
    assert(whole.getDouble(2) == union.getDouble(2))
  }

  test("count-min: never underestimates; exact on planted counts; invariant") {
    val terms = Seq("join", "hash", "xyzzy", "customer")
    val rep = TextOps.cmReport(docs, terms).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rep.size == terms.size)
    // CMS guarantee: est >= true, always
    assert(rep.values.forall { case (t, e) => e >= t })
    // the absent term's true count is 0
    assert(rep("xyzzy")._1 == 0L)
    // layout invariance: addition is commutative
    val a = TextOps.cmBuild(docs)
    val b = TextOps.cmBuild(docs.repartition(7, col("doc_id")))
    assert(java.util.Arrays.equals(a, b))
    // planted micro-corpus: no collisions among 3 tokens in 65536 cells
    // is overwhelmingly likely NOT guaranteed - so assert est==true only
    // via the report's own true counts matching a hand count
    val s = spark
    import s.implicits._
    val tiny = Seq((1L, "a b a"), (2L, "b c b")).toDF("doc_id", "text")
    val got = TextOps.cmReport(tiny, Seq("a", "b", "c")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 2L, "b" -> 3L, "c" -> 1L))
  }

  test("edit similarity: planted one-word edit scores high, unrelated low") {
    val s = spark
    import s.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far away today " * 3
    val corpus = Seq(
      (1L, base),
      (2L, base.replace("quick", "rapid")), // one-word edit of 1
      (3L, "completely different content with no overlap whatsoever at all " * 4))
      .toDF("doc_id", "text")
    val pairs = Dedup.editSimilarityPairs(corpus, threshold = 0.8).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    val sim = pairs.head.getDouble(3)
    assert(sim > 0.9 && sim < 1.0, s"sim $sim")
  }

  test("edit similarity fixture contract: documents text is ASCII in the " +
      "levenshtein prefix (Spark counts code points, DuckDB bytes)") {
    // The llm_edit_similarity gate relies on this property (see the
    // Dedup.editSimilarityPairs docstring): if the fixture ever gains
    // non-ASCII text in its first 256 chars, fail HERE with a pointer
    // rather than as an opaque oracle hash mismatch.
    val nonAscii = docs
      .filter(substring(col("text"), 1, 256).rlike("[^\\x00-\\x7F]"))
      .count()
    assert(nonAscii == 0,
      s"$nonAscii documents have non-ASCII in the first 256 chars; " +
        "Spark/DuckDB levenshtein parity no longer holds - see " +
        "Dedup.editSimilarityPairs")
  }

  test("temperature mix lifts low-resource langs; fractions in (0, 1]") {
    val out = Curation.temperatureMix(docs).collect()
      .map(r => (r.getString(0), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    // alpha < 1 compresses shares: biggest lang loses mass, smallest gains
    val big = out.maxBy(_._2); val small = out.minBy(_._2)
    assert(big._3 <= big._2 + 1e-9, s"$big")
    assert(small._3 >= small._2 - 1e-9, s"$small")
    assert(out.forall(r => r._4 > 0 && r._4 <= 1.0))
    // the smallest lang is the most boosted -> keeps everything
    assert(math.abs(small._4 - 1.0) < 1e-9)
    // shares each sum to 1
    assert(math.abs(out.map(_._2).sum - 1.0) < 1e-4)
    assert(math.abs(out.map(_._3).sum - 1.0) < 1e-4)
  }

  test("jsonl roundtrip survives quotes, newlines, unicode, and nulls") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.types._
    val nasty = Seq(
      (1L, "he said \"hi\"\nand left\t\\end", "en"),
      (2L, "unicode: é中文 😀 ctrl:", "zh"),
      (3L, null.asInstanceOf[String], "en"))
      .toDF("doc_id", "text", "lang")
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("lang", StringType), StructField("text", StringType)))
    val back = Curation.fromJsonl(
      Curation.toJsonl(nasty).select(col("line")), schema)
      .select("doc_id", "text", "lang")
    assert(back.except(nasty).count() == 0 && nasty.except(back).count() == 0)
  }

  test("winnow pairs: planted shared substring is caught with containment 1") {
    val s = spark
    import s.implicits._
    val shared = "this exact block of text is lifted verbatim into another doc"
    val corpus = Seq(
      (1L, shared),
      (2L, "a much longer host document begins here " + shared +
        " and then continues with plenty of extra original material after"),
      (3L, "totally unrelated content with nothing in common at all here"))
      .toDF("doc_id", "text")
    val pairs = TextOps.winnowOverlapPairs(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    // the small doc is fully contained in the big one: containment = 1
    assert(pairs.keySet == Set((1L, 2L)), pairs.toString)
    assert(pairs((1L, 2L)) == 1.0, pairs.toString)
  }

  test("filtered ANN: every hit satisfies the predicate; k holds when dense") {
    val q = emb.filter(col("vec_id") % 25 === 0)
    val out = Similarity.ivfFilteredTopK(q, emb, 5, col("label") % 2 === 0)
    // predicate holds on every returned neighbor
    val lbl = out.join(emb.select(col("vec_id").as("nid"), col("label")), "nid")
    assert(lbl.filter(col("label") % 2 =!= 0).count() == 0)
    // pre-filtering: each query still gets k hits (the filter keeps ~half
    // the corpus, far more than k per probed cell set)
    val short = out.groupBy("qid").count().filter(col("count") < 5)
    assert(short.count() == 0)
    // and filtered results = unfiltered results with non-matching dropped,
    // re-ranked (on the same probed cells)
    val unf = Similarity.ivfTopK(q, emb, 1000)
      .join(emb.select(col("vec_id").as("nid"), col("label")), "nid")
      .filter(col("label") % 2 === 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("sim").desc, col("nid").asc)
    val ref = unf.withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select(col("qid"), col("nid"), col("rk").cast("long").as("rank"))
    val got = out.select(col("qid"), col("nid"), col("rank"))
    assert(got.except(ref).count() == 0 && ref.except(got).count() == 0)
  }

  test("embed stats: norms positive, anisotropy in [-1,1], exact on a fixture") {
    val out = Similarity.embedStats(emb).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getDouble(2) > 0 && r.getDouble(4) >= r.getDouble(3)))
    assert(out.forall(r => math.abs(r.getDouble(5)) <= 1.0))
    // hand fixture: unit axes e1,e2 (label 0) -> mu=(.5,.5,0...), both
    // vectors' cosine to mu = 0.5/(1*sqrt(0.5)) = sqrt(0.5)
    val s = spark
    import s.implicits._
    val d = 64
    def axis(i: Int) = Array.tabulate(d)(j => if (j == i) 1.0f else 0.0f)
    val tiny = Seq((1L, axis(0), 0), (2L, axis(1), 0))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.embedStats(tiny).collect()(0)
    assert(r.getLong(1) == 2 && r.getDouble(2) == 1.0)
    assert(math.abs(r.getDouble(5) - 0.707107) < 1e-6, r.toString)
  }

  test("proto prune: drops exactly floor(csize/5) per cluster, the closest") {
    val out = Similarity.protoPrune(emb)
    assert(out.count() == emb.count())
    // per cluster: dropped count = floor(csize/5), and every dropped row
    // has sim >= every kept row's sim
    val bad = out.groupBy("cluster").agg(
      sum(when(!col("keep"), 1L).otherwise(0L)).as("dropped"),
      first(col("csize")).as("cs"),
      min(when(!col("keep"), col("sim"))).as("minDropped"),
      max(when(col("keep"), col("sim"))).as("maxKept"))
      .filter(col("dropped") =!= floor(col("cs") / 5) ||
        (col("minDropped").isNotNull && col("minDropped") < col("maxKept") - 1e-9))
    assert(bad.count() == 0)
  }

  test("ccnet buckets: per-language thirds, ordered head <= middle <= tail") {
    val out = Curation.ccnetBuckets(docs, col("source") === "src0")
    val sizes = out.groupBy("lang", "bucket").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val langs = sizes.keys.map(_._1).toSet
    assert(langs.nonEmpty)
    for (l <- langs) {
      val h = sizes.getOrElse((l, "head"), 0L)
      val m = sizes.getOrElse((l, "middle"), 0L)
      val t = sizes.getOrElse((l, "tail"), 0L)
      val n = h + m + t
      // quantile split: each bucket within 2 of n/3
      assert(Seq(h, m, t).forall(b => math.abs(b - n / 3.0) <= 2.0),
        s"$l: $h/$m/$t of $n")
    }
    // bucket ordering respects the score: max(head) <= min(tail) per lang
    val agg = out.groupBy("lang").agg(
      max(when(col("bucket") === "head", col("lm_score"))).as("maxh"),
      min(when(col("bucket") === "tail", col("lm_score"))).as("mint"))
    assert(agg.filter(col("maxh") > col("mint")).count() == 0)
  }

  test("pagerank: hand-computed 2-node chain; mass conserved on host graph") {
    val s = spark
    import s.implicits._
    // A -> B, B dangling: two rounds by hand (d=0.85, N=2, r0=1):
    //   r1 = (0.575, 1.425); r2 = (0.755625, 1.244375)
    val tiny = Seq(("a", "b")).toDF("src", "dst")
    val got = Graph.pageRank(tiny, iters = 2).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == Map("a" -> 0.755625, "b" -> 1.244375))
    // host fixture: 21 nodes (20 hosts + sink); dangling redistribution
    // conserves total mass at N up to per-round rounding
    val pr = Graph.pageRank(Graph.hostEdgesFixture(docs))
    val rows = pr.collect()
    assert(rows.length == 21)
    val mass = rows.map(_.getDouble(1)).sum
    assert(math.abs(mass - 21.0) < 1e-3, s"mass $mass")
    assert(rows.forall(_.getDouble(1) > 0.14))
  }

  test("bloom dedup: zero false negatives; FPs bounded; layout-invariant") {
    val history = docs.filter(col("doc_id") % 2 === 0)
    val bits = Dedup.bloomBitset(history)
    // partition-layout invariance: the OR-merge is commutative, so a
    // different partitioning must build the identical bitset
    val bits2 = Dedup.bloomBitset(history.repartition(7, col("doc_id")))
    assert(java.util.Arrays.equals(bits, bits2))
    // every history doc probes positive against its own bitset (no FNs)
    val self = Dedup.bloomDedup(history, bits)
    assert(self.filter(!col("maybe_dup")).count() == 0)
    // novel odd docs: FP rate stays under 10x the analytic bound
    val novel = docs.filter(col("doc_id") % 2 === 1)
    val n = history.count().toDouble
    val p = math.pow(1.0 - math.exp(-Dedup.BloomK * n / Dedup.BloomBits),
      Dedup.BloomK)
    val fps = Dedup.bloomDedup(novel, bits).filter(col("maybe_dup")).count()
    assert(fps <= math.max(1.0, 10.0 * p * novel.count()),
      s"$fps FPs vs analytic ${p * novel.count()}")
  }

  test("sharded bloom: shards=1 equals unsharded; replication invariant; " +
      "no FNs; probes stay in-shard") {
    val history = docs.filter(col("doc_id") % 2 === 0)
    val incoming = docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("text"))
      .unionAll(docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "maybe_dup").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // shard count 1 degenerates to exactly the unsharded operator
    val one = asMap(Dedup.bloomDedupSharded(incoming,
      Dedup.bloomBitsetsSharded(history, shards = 1), shards = 1))
    val flat = asMap(Dedup.bloomDedup(incoming, Dedup.bloomBitset(history)))
    assert(one == flat)
    // replication salting never changes semantics
    val bs8 = Dedup.bloomBitsetsSharded(history, shards = 8)
    val r1 = asMap(Dedup.bloomDedupSharded(incoming, bs8, shards = 8))
    val r3 = asMap(Dedup.bloomDedupSharded(incoming, bs8, shards = 8,
      replication = 3))
    assert(r1 == r3)
    // zero false negatives: every history doc self-probes positive
    val self = Dedup.bloomDedupSharded(
      history.select(col("doc_id"), col("text")), bs8, shards = 8)
    assert(self.filter(!col("maybe_dup")).count() == 0)
    // the re-crawled docs (planted true dups) all hit through the shards
    assert(r1.filter(_._1 >= 1000000L).forall(_._2),
      "a planted re-crawl missed its shard's bitset")
    // sharding only REMOVES false positives vs one flat bitset of the
    // same total geometry (a probe can no longer hit bits set by another
    // shard's docs), never adds them
    assert(r1.forall { case (id, dup) => !dup || flat(id) },
      "sharded probe hit where the flat bitset missed")
  }

  test("plan canaries: sharded bloom has no cartesian product and one " +
      "bitset aggregate; the e2e curation DAG has no cartesian product " +
      "and no un-partitioned corpus window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val history = docs.filter(col("doc_id") % 2 === 0)
    val sharded = Dedup.bloomDedupSharded(
      docs.select(col("doc_id"), col("text")),
      Dedup.bloomBitsetsSharded(history, shards = 8), shards = 8)
    val sp = sharded.queryExecution.executedPlan.toString
    assert(!sp.contains("CartesianProduct"), sp)
    assert(sp.contains("bitset_agg"), sp)

    val raw = docs.select(col("doc_id"), col("source"), col("lang"),
      concat(lit("https://"), col("source"), lit(".example.com/p/"),
        col("doc_id")).as("url"),
      concat(lit("<html><body>"), col("text"), lit("</body></html>")).as("html"))
    val s = spark
    import s.implicits._
    val e2e = Curation.curationPipeline(raw,
      Seq(("none.example.com", "/x")).toDF("domain", "prefix"))
    val lp = e2e.queryExecution.optimizedPlan
    val badWindows = lp.collect {
      case w: LWindow if w.partitionSpec.isEmpty &&
        w.child.collectFirst { case a: Aggregate => a }.isEmpty => w
    }
    assert(badWindows.isEmpty, badWindows.mkString("\n"))
    val ep = e2e.queryExecution.executedPlan.toString
    assert(!ep.contains("CartesianProduct"), "cartesian product in e2e plan")
  }

  test("bitset probe: interpreted and codegen paths agree on edge bits") {
    val s = spark
    import s.implicits._
    val bits = new Array[Long](4) // 256 bits
    bits(0) = 1L | (1L << 63) // positions 0 and 63
    bits(3) = 1L << 62        // position 254
    val positions = Seq(0L, 1L, 63L, 64L, 254L, 255L, 300L, -1L)
    val df = positions.toDF("p")
      .select(col("p"), graft.functions.BitsetProbe(col("p"), bits).as("hit"))
    val got = df.collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val want = Map(0L -> true, 1L -> false, 63L -> true, 64L -> false,
      254L -> true, 255L -> false, 300L -> false, -1L -> false)
    assert(got == want)
  }
}
