package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Materialize

import TextOps._

/** Deduplication operators for training-data pipelines, designed for the
  * 100 TB shape: nothing here ever forms an all-pairs product.
  *
  *   - exact: hash-groupBy on normalized text (one shuffle on the hash)
  *   - MinHash-LSH: shingle → K minhashes → B banded buckets → candidate
  *     pairs only within equal buckets → exact-Jaccard verification joins
  *     only the candidates' shingles
  *   - SimHash: 60-bit signature via per-bit majority vote, bit-exact
  *     reproducible in DuckDB (shared md5-derived hash)
  *
  * At 1000 executors each stage is a hash shuffle keyed by doc/bucket; the
  * band-bucket groupBy bounds the pair blowup to bucket sizes (salt or
  * re-band if a bucket explodes — the band hash is uniform by
  * construction).
  */
object Dedup {

  /** Canonical text normalization for exact dedup: lowercase, trim,
    * collapse runs of whitespace.
    */
  def normalized(text: Column): Column =
    regexp_replace(trim(lower(text)), "\\s+", " ")

  /** Exact dedup: every doc mapped to the smallest doc_id sharing its
    * normalized-text md5. (doc_id, canonical_id, is_dup).
    */
  def exactDedup(docs: DataFrame): DataFrame = {
    val hashed = docs.select(col("doc_id"), md5(normalized(col("text"))).as("h"))
    val canon = hashed.groupBy(col("h")).agg(min(col("doc_id")).as("canonical_id"))
    hashed.join(canon, "h")
      .select(col("doc_id"), col("canonical_id"),
        (col("doc_id") =!= col("canonical_id")).cast("int").as("is_dup"))
  }

  val K = 16 // minhash functions
  val Bands = 4
  val Rows = 4 // K = Bands * Rows

  /** Fixed 60-bit xor masks, one per minhash function: h_j(s) = h(s) ⊕
    * mask_j. Each mask is a bijection on the 60-bit hash space, but note
    * an xor family is NOT min-wise independent (and all K functions
    * derive from the one md5), so P[min matches] = Jaccard is an
    * empirical approximation here, not an exact identity — on
    * adversarially correlated shingle sets the banding S-curve can sit
    * below the textbook curve. The masks are md5-derived constants so the
    * DuckDB oracle embeds the same literals. Why this trade: the previous
    * formulation ran md5 K times per (doc, shingle) — 16× the hashing for
    * the whole MinHash family; one base md5 + K codegen'd xors is the
    * standard universal-hashing shape. Candidate recall at the operating
    * thresholds is property-tested in LlmSpec (exact cross-check at 0.8
    * plus a correlated-corpus recall floor), and every candidate pair is
    * re-scored with the exact Jaccard afterwards, so precision is exact
    * regardless — only recall rides on the hash family.
    */
  val HashSeeds: Seq[Long] = (0 until K).map { j =>
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s"minhash-seed:$j".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(md.substring(0, 15), 16)
  }

  /** Distinct (doc_id, shingle) pairs. Rebalanced first: the shingle
    * explode + per-shingle hashing is the CPU-heavy narrow stage of every
    * MinHash/Jaccard operator, and a small-file corpus scan would
    * otherwise run it on one task (TextOps.rebalanced is a no-op once
    * input splits exceed the session parallelism).
    */
  def docShingles(docs: DataFrame): DataFrame =
    rebalanced(docs)
      .select(col("doc_id"), explode(shingles(col("text"))).as("s"))

  /** MinHash signatures: ONE md5 per (doc, shingle), K xor-masked
    * column-wise mins per doc — one narrow aggregate, map-side partial
    * combined.
    */
  def minhashSignatures(docs: DataFrame): DataFrame = {
    val sh = docShingles(docs).withColumn("h", mdhash64(col("s")))
    val mins = (0 until K).map(j =>
      min(col("h").bitwiseXOR(lit(HashSeeds(j)))).as(s"h$j"))
    sh.groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until K).map(j => col(s"h$j")): _*).as("sig"))
  }

  /** LSH banding: B buckets per doc, bucket key = md5 of the band's R
    * signature values. Docs sharing any band bucket become candidates.
    */
  def lshBands(sigs: DataFrame, bands: Int = Bands, rows: Int = Rows): DataFrame = {
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws(",",
          (0 until rows).map(r => element_at(col("sig"), b * rows + r + 1)
            .cast("string")): _*)).as("bh"))
    }
    sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("bd"))
      .select(col("doc_id"), col("bd.band").as("band"), col("bd.bh").as("bh"))
  }

  /** Candidate pairs (i < j) sharing a band bucket. The join is per-bucket
    * (equi-join on band+hash) — never all-pairs.
    */
  def lshCandidates(docs: DataFrame, bands: Int = Bands, rows: Int = Rows): DataFrame = {
    // materialize the signatures (N small rows) before banding: the band
    // self-join otherwise re-runs the whole shingle→minhash aggregation
    // once per side — the "write the LSH index, then join it" shape every
    // banded pipeline uses at scale
    val b = lshBands(Materialize(minhashSignatures(docs)), bands, rows)
    b.as("a").join(b.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .distinct()
  }

  /** Exact word-n-gram Jaccard for a given pair set. The shingle sets are
    * aggregated ONCE per doc (they are already distinct) and the pair list
    * joins the two ARRAYS — `array_intersect` computes |i∩j| per pair with
    * a hash probe instead of the old exploded (pair, shingle) shuffle join,
    * which re-shuffled every shingle of every candidate doc. Values are
    * integer-count ratios, bit-identical to the oracle's formulation.
    */
  def jaccardOf(pairs: DataFrame, docs: DataFrame): DataFrame = {
    // materialized once: consumed by both the i-side and j-side joins;
    // rebalanced so the per-doc shingling parallelizes (see docShingles)
    val sets = Materialize(
      rebalanced(docs).select(col("doc_id"), shingles(col("text")).as("ss"))
        .select(col("doc_id"), col("ss"), size(col("ss")).as("n")))
    val joined = pairs
      .join(sets.select(col("doc_id").as("i"), col("ss").as("si"),
        col("n").as("ni")), "i")
      .join(sets.select(col("doc_id").as("j"), col("ss").as("sj"),
        col("n").as("nj")), "j")
      .withColumn("inter", size(array_intersect(col("si"), col("sj"))))
    joined.select(col("i"), col("j"),
      (col("inter").cast("double") /
        (col("ni") + col("nj") - col("inter"))).as("jaccard"))
  }

  /** Full MinHash-LSH near-dup pipeline: LSH candidates verified by exact
    * Jaccard ≥ threshold.
    */
  def minhashNearDups(docs: DataFrame, threshold: Double): DataFrame =
    jaccardOf(lshCandidates(docs), docs).filter(col("jaccard") >= threshold)

  /** High-recall banding for the ≥0.8 near-dup operator: the same 16
    * minhashes re-banded as 8 bands × 2 rows. The S-curve midpoint
    * (1/B)^(1/R) = (1/8)^(1/2) ≈ 0.35 sits far below the 0.8 threshold, so
    * candidate recall at J ≥ 0.8 is 1−(1−J²)⁸ ≥ 0.9997 — empirically 100%
    * on the fixed testdata (cross-checked against [[ngramJaccardPairs]] in
    * LlmSpec). This is the scale path: candidate volume is Σ bucket sizes,
    * never the Σ df² shingle-pair blowup of the exact formulation.
    */
  val NearDupBands = 8
  val NearDupRows = 2

  def nearDupPairs(docs: DataFrame, threshold: Double): DataFrame =
    jaccardOf(lshCandidates(docs, NearDupBands, NearDupRows), docs)
      .filter(col("jaccard") >= threshold)

  /** Candidate-generation document-frequency cap: shingles appearing in
    * more than MaxShingleDf docs are skipped when FORMING pairs (the join
    * blowup is Σ df² per shingle — one viral shingle is quadratic). They
    * still count in the exact Jaccard verification, so scores are true;
    * a ≥0.8 pair sharing ONLY ultra-common shingles cannot exist.
    */
  val MaxShingleDf = 50

  /** All pairs sharing ≥1 (non-viral) shingle with exact Jaccard ≥
    * threshold (the non-LSH exact formulation — at scale this is the
    * verification stage; the capped shingle equi-join bounds it to
    * co-occurring docs).
    */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double): DataFrame = {
    val sh = docShingles(docs)
    val rare = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= MaxShingleDf).select(col("s"))
    val shCand = sh.join(rare, "s")
    val pairs = shCand.select(col("doc_id").as("i"), col("s"))
      .join(shCand.select(col("doc_id").as("j"), col("s")), "s")
      .filter(col("i") < col("j"))
      .select(col("i"), col("j")).distinct()
    jaccardOf(pairs, docs).filter(col("jaccard") >= threshold)
  }

  /** Benchmark decontamination: flag corpus docs sharing ≥ `minShared`
    * distinct word 3-gram shingles with any benchmark document (the
    * standard eval-set n-gram-overlap decontamination check a training
    * pipeline runs before every data release). Returns one row per
    * contaminated doc: (doc_id, bench_id of the strongest match, shared
    * shingle count), best match = highest overlap, smallest bench_id on
    * ties.
    *
    * Scale shape: the benchmark set is small (eval suites are thousands of
    * docs, the corpus is billions), so its shingle table is the broadcast
    * side of the equi-join and the corpus side streams map-side with no
    * shuffle; the per-(doc, bench) count shuffles only matched rows, keyed
    * by corpus doc. The [[MaxShingleDf]] viral-shingle cap is applied on
    * the BENCHMARK side (a boilerplate shingle present in thousands of
    * benchmark docs would fan every corpus row out × df) — capping the
    * small side is exact-enough by the same argument as candidate
    * generation: a doc overlapping ONLY on ultra-common shingles is not
    * contamination.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
      minShared: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bsh0 = docShingles(benchmark).select(col("doc_id").as("bench_id"), col("s"))
    val rare = bsh0.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= MaxShingleDf).select(col("s"))
    val bsh = bsh0.join(rare, "s")
    val overlap = docShingles(corpus)
      .join(broadcast(bsh), "s")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("shared"))
    val best = org.apache.spark.sql.functions.row_number().over(
      Window.partitionBy(col("doc_id"))
        .orderBy(col("shared").desc, col("bench_id")))
    overlap.withColumn("rn", best)
      .filter(col("rn") === 1 && col("shared") >= minShared)
      .select(col("doc_id"), col("bench_id"), col("shared"))
  }

  /** Exact-substring duplication profile (the Lee et al. 2021
    * "Deduplicating Training Data" shape, re-expressed relationally):
    * every length-`w` token window of every document is fingerprinted;
    * a window whose fingerprint occurs in ≥ 2 DISTINCT documents is a
    * duplicated span. Returns one row per document that has at least one
    * window: (doc_id, n_windows, n_dup_windows, dup_ratio) — the profile
    * a pipeline thresholds to drop or trim boilerplate-heavy documents.
    *
    * Scale shape: no suffix array and no pairwise work — windows hash to
    * 8-byte keys (one md5 per window, same [[TextOps.mdhash64]] the
    * DuckDB oracle replays), the duplicate test is a (hash, doc) distinct
    * count, and the only joins are equi-joins on the hash. The first
    * groupBy collapses windows to per-(hash, doc) counts so the
    * duplicated-hash join fans out over distinct pairs, never raw window
    * multiplicity.
    */
  def substringDups(docs: DataFrame, w: Int = 12): DataFrame = {
    val base = rebalanced(docs)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("ws"))
    // positional w-grams — NOT array_distinct'd (multiplicity counts),
    // built with the shifted-slice zip_with discipline (see
    // TextOps.shingles for why not transform-with-element_at)
    val m = greatest(size(col("ws")) - (w - 1), lit(0))
    val grams = (1 until w).foldLeft(slice(col("ws"), lit(1), m)) { (acc, o) =>
      zip_with(acc, slice(col("ws"), lit(o + 1), m),
        (a, b) => concat(a, lit(" "), b))
    }
    val g = base.select(col("doc_id"), explode(grams).as("gram"))
      .select(col("doc_id"), TextOps.mdhash64(col("gram")).as("h"))
    val perHashDoc = g.groupBy(col("h"), col("doc_id"))
      .agg(count(lit(1)).as("c"))
    val dupHashes = perHashDoc.groupBy(col("h"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select(col("h"))
    val dup = perHashDoc.join(dupHashes, "h")
      .groupBy(col("doc_id")).agg(sum(col("c")).as("n_dup_windows"))
    perHashDoc.groupBy(col("doc_id")).agg(sum(col("c")).as("n_windows"))
      .join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        round(coalesce(col("n_dup_windows"), lit(0L)) /
          col("n_windows"), 6).as("dup_ratio"))
  }

  /** DuckDB twin of [[substringDups]] — same tokenization, same 60-bit
    * md5 fingerprint, same distinct-doc duplicate test.
    */
  def substringDupsOracleSql(w: Int = 12): String =
    s"""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
       |g AS (SELECT doc_id,
       |    ('0x'||substr(md5(array_to_string(ws[i:i+${w - 1}], ' ')),1,15))::BIGINT AS h
       |  FROM t, unnest([x for x in generate_series(1, len(ws)-${w - 1})]) u(i)),
       |phd AS (SELECT h, doc_id, count(*) AS c FROM g GROUP BY 1, 2),
       |dh AS (SELECT h FROM phd GROUP BY h HAVING count(*) >= 2),
       |dup AS (SELECT doc_id, sum(c)::BIGINT AS nd FROM phd JOIN dh USING (h) GROUP BY 1),
       |tot AS (SELECT doc_id, sum(c)::BIGINT AS nw FROM phd GROUP BY 1)
       |SELECT t2.doc_id, nw AS n_windows, coalesce(nd, 0)::BIGINT AS n_dup_windows,
       |  round(coalesce(nd, 0) / nw::DOUBLE, 6) AS dup_ratio
       |FROM tot t2 LEFT JOIN dup USING (doc_id) ORDER BY doc_id""".stripMargin

  /** C4-style paragraph-level exact dedup WITH document reassembly
    * (Raffel et al. 2020 §2.2 removes repeated three-sentence spans but
    * KEEPS the documents): every paragraph that textually recurs anywhere
    * in the corpus survives only at its first occurrence (smallest
    * (doc_id, pos)); each document is rebuilt from its surviving
    * paragraphs in original order. This is the operator that strips
    * shared nav/footer boilerplate without dropping whole pages.
    *
    * Scale shape: explode → ONE shuffle keyed by paragraph text (the
    * first-occurrence window is partitioned by that key) → one groupBy
    * doc_id to reassemble. No all-pairs work anywhere; paragraph count is
    * bounded by document length.
    *
    * Returns (doc_id, clean_text, n_kept, n_dropped); a doc whose every
    * paragraph was seen earlier comes back with empty clean_text.
    */
  def dedupParagraphs(docs: DataFrame, sep: String = "\n\n"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val paras = docs.select(col("doc_id"),
      posexplode(split(col("text"), sep)).as(Seq("pos", "para")))
    val w = Window.partitionBy("para").orderBy("doc_id", "pos")
    val kept = paras.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    val rebuilt = kept.groupBy("doc_id").agg(
      array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("para")))),
        s => s.getField("para")), sep).as("clean_text"),
      count(lit(1)).as("n_kept"))
    paras.groupBy("doc_id").agg(count(lit(1)).as("n_paras"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_paras") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
  }

  /** Incremental dedup: near-dup pairs of NEW docs against an EXISTING
    * corpus — the shape ingestion at scale needs, where the corpus's
    * band buckets are a precomputed index and only the new batch is
    * shingled + banded per run. Candidates come from a new×corpus band
    * equi-join (never corpus×corpus, never all-pairs), verified by exact
    * Jaccard over both sides' shingles. Returns (i=new doc, j=corpus doc,
    * jaccard ≥ threshold); a new doc with any hit is a duplicate to drop.
    */
  def incrementalNearDups(newDocs: DataFrame, corpus: DataFrame,
      threshold: Double): DataFrame = {
    val bn = lshBands(Materialize(minhashSignatures(newDocs)),
      NearDupBands, NearDupRows)
    val bc = lshBands(Materialize(minhashSignatures(corpus)),
      NearDupBands, NearDupRows)
    val pairs = bn.select(col("doc_id").as("i"), col("band"), col("bh"))
      .join(bc.select(col("doc_id").as("j"), col("band"), col("bh")),
        Seq("band", "bh"))
      .select(col("i"), col("j")).distinct()
    val all = newDocs.select(col("doc_id"), col("text"))
      .unionByName(corpus.select(col("doc_id"), col("text")))
    jaccardOf(pairs, all).filter(col("jaccard") >= threshold)
  }

  /** Duplicate clusters: connected components over the near-dup pair
    * graph, each doc labeled with its component's smallest doc_id (the
    * canonical representative a dedup pass keeps). Transitivity matters:
    * A~B and B~C puts A and C in one cluster even when J(A,C) < threshold
    * — pairwise filtering alone would keep both.
    */
  def dupClusters(docs: DataFrame, threshold: Double): DataFrame = {
    val edges = Materialize(nearDupPairs(docs, threshold)
      .select(col("i"), col("j")))
    // iterate only over edge endpoints: the dup graph is sparse (≪ corpus),
    // so the CC rounds never shuffle the full doc set — isolated docs are
    // their own cluster by definition and join back in one pass at the end
    val touched = edges.select(col("i").as("doc_id"))
      .union(edges.select(col("j").as("doc_id"))).distinct()
    val cc = connectedComponents(touched, edges)
    docs.select(col("doc_id")).join(cc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
  }

  /** Min-label propagation with path halving: each round takes the min
    * label over neighbors, then short-circuits label ← label(label)
    * (pointer jumping), giving O(log d) rounds on diameter-d components —
    * near-dup clusters are dense and shallow, so this converges in 2-3
    * rounds. Every round is two hash joins + one aggregate, all keyed on
    * doc_id/label: at 1000 executors each is one shuffle, no driver-side
    * graph state. (The adversarial-chain-graph hardening would be
    * large-star/small-star; dup graphs never need it.)
    */
  def connectedComponents(nodes: DataFrame, edges0: DataFrame,
      maxIters: Int = 25): DataFrame = {
    // the dup graph is SPARSE (edges ≪ corpus — only near-dup pairs), so
    // in the common case the whole edge set is driver-sized: collect it
    // and run one in-memory union-find instead of 2-4 distributed rounds
    // of join/aggregate/checkpoint jobs (the same driver-shortcut-with-
    // distributed-fallback shape as the store's push-batch ancestor
    // closure). Labels are identical: min doc_id per component over the
    // subgraph induced on `nodes`. CcDriverMax bounds the collect (tuples
    // of 2 longs; 2M ≈ 32 MB).
    val spark = nodes.sparkSession
    val es = edges0.select(col("i"), col("j")).limit(CcDriverMax + 1).collect()
    lazy val ns = nodes.select(col("doc_id")).limit(CcDriverMax + 1).collect()
    if (es.length > CcDriverMax || ns.length > CcDriverMax)
      componentsDistributed(nodes, edges0, maxIters)
    else {
      val nodeSet = new java.util.HashSet[Long](ns.length * 2)
      ns.foreach(r => nodeSet.add(r.getLong(0)): Unit)
      val parent = new java.util.HashMap[Long, Long](ns.length * 2)
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
        var c = x // path compression
        while (parent.getOrDefault(c, c) != c) {
          val nxt = parent.get(c); parent.put(c, r); c = nxt
        }
        r
      }
      // union by MIN root: labels are doc_ids, so the surviving root
      // of every merge is the component minimum — exactly the
      // distributed min-label fixpoint. Edges with an endpoint
      // outside `nodes` do not propagate (the distributed loop only
      // labels/joins through `nodes` rows — induced-subgraph parity).
      for (row <- es) {
        val a = row.getLong(0); val b = row.getLong(1)
        if (nodeSet.contains(a) && nodeSet.contains(b)) {
          val ra = find(a); val rb = find(b)
          if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
        }
      }
      val s = spark
      import s.implicits._
      spark.createDataset(
          ns.map(r => { val d = r.getLong(0); (d, find(d)) }).toSeq)
        .toDF("doc_id", "cluster_id")
    }
  }

  private val CcDriverMax = 2000000

  /** The distributed min-label rounds [[connectedComponents]] falls back
    * to above [[CcDriverMax]] edges or nodes.
    */
  private[llm] def componentsDistributed(nodes: DataFrame, edges0: DataFrame,
      maxIters: Int): DataFrame = {
    val edges = Materialize(
      edges0.union(edges0.select(col("j"), col("i"))).distinct())
    var labels = Materialize(
      nodes.select(col("doc_id"), col("doc_id").as("cluster_id")))
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      val nbrMin = edges
        .join(labels.select(col("doc_id").as("j"), col("cluster_id").as("nl")),
          "j")
        .groupBy(col("i").as("doc_id")).agg(min(col("nl")).as("nbr"))
      val stepped = labels.join(nbrMin, Seq("doc_id"), "left")
        .select(col("doc_id"), col("cluster_id").as("prev"),
          least(col("cluster_id"), coalesce(col("nbr"), col("cluster_id")))
            .as("cluster_id"))
      // path halving: labels only ever shrink and cluster_id is itself a
      // doc_id, so label(label(v)) is defined and ≤ label(v). The previous
      // label rides along so convergence is a count over the materialized
      // frame — one job per round, not a second join+filter action.
      val jumped = Materialize(stepped
        .join(stepped.select(col("doc_id").as("cluster_id"),
          col("cluster_id").as("ll")), "cluster_id")
        .select(col("doc_id"), col("prev"), col("ll").as("cluster_id")))
      converged = jumped.filter(col("cluster_id") =!= col("prev")).isEmpty
      labels = jumped.select(col("doc_id"), col("cluster_id"))
      iter += 1
    }
    labels
  }

  /** Cross-source near-duplicate overlap matrix — the inter-source
    * contamination report a corpus release ships: for every unordered
    * source pair, how many near-dup clusters contain documents from BOTH
    * (a mirror site, a syndicated feed, or a benchmark leaking between
    * snapshots shows up as a hot cell). Rides [[dupClusters]]' existing
    * component build.
    *
    * Scale shape: the (cluster, source) table is distinct-projected
    * (bounded by clusters × sources-per-cluster), the per-cluster
    * self-join fans out only by sources-per-cluster (≤ #sources), and the
    * output is source²-bounded. Nothing beyond the cluster build touches
    * corpus-sized data.
    */
  def sourceOverlap(docs: DataFrame, threshold: Double): DataFrame = {
    // materialized: the self-join below reads cs twice, and without the
    // checkpoint each read re-runs the corpus-sized cluster rejoin
    val cs = Materialize(dupClusters(docs, threshold)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .select(col("cluster_id"), col("source")).distinct())
    cs.as("a").join(cs.as("b"),
        col("a.cluster_id") === col("b.cluster_id") &&
          col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_clusters"))
  }

  val SimHashBits = 60

  /** 60-bit SimHash over distinct tokens: per-bit majority vote of token
    * hashes. Exploding the bit index keeps it one narrow agg (no 60-column
    * pivot) and mirrors the DuckDB oracle shape exactly.
    */
  def simhash(docs: DataFrame): DataFrame = {
    val toks = rebalanced(docs)
      .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("t"))
      .withColumn("h", mdhash64(col("t")))
    toks
      .select(col("doc_id"), col("h"), explode(sequence(lit(0), lit(SimHashBits - 1))).as("b"))
      .groupBy(col("doc_id"), col("b"))
      .agg(sum(when(expr("shiftright(h, b) % 2") === 1, 1).otherwise(-1)).as("v"))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("v") > 0,
        expr("shiftleft(CAST(1 AS BIGINT), b)")).otherwise(0L)).as("simhash"))
  }

  /** Dedup-threshold tuning histogram: candidate-pair counts per Jaccard
    * decile — THE plot a pipeline reads before fixing its near-dup cut
    * (how many pairs does 0.7 vs 0.8 vs 0.9 remove?). Low-J bins are
    * invisible to the banded LSH path (its recall is tuned for the
    * operating threshold), so the sweep necessarily runs the EXACT
    * df-capped candidate chain — which is why it takes `sampleMod`: the
    * production shape is the sweep over a deterministic doc sample
    * (`doc_id % sampleMod == 0`), since pair volume falls ~quadratically
    * in the sample rate and a tuning plot doesn't need the full corpus.
    * Returns (bin = floor(j·10)/10, n_pairs).
    */
  def jaccardHistogram(docs: DataFrame, sampleMod: Long = 1L): DataFrame =
    ngramJaccardPairs(docs.filter(col("doc_id") % sampleMod === 0), 0.0)
      .select((floor(col("jaccard") * 10) / 10).as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_pairs"))

  /** DuckDB twin of [[jaccardHistogram]] (self-contained: the sampled
    * shingle chain is rebuilt from `documents`).
    */
  def jaccardHistogramOracleSql(sampleMod: Long = 1L): String =
    s"""WITH nd AS (SELECT doc_id, lower(text) AS t FROM documents
       |  WHERE doc_id % $sampleMod = 0),
       |toks AS (SELECT doc_id, string_split(t, ' ') AS ws FROM nd),
       |sh AS (SELECT DISTINCT doc_id,
       |    unnest([ws[i]||' '||ws[i+1]||' '||ws[i+2]
       |            for i in generate_series(1, len(ws)-2)]) AS s
       |  FROM toks),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= $MaxShingleDf),
       |shc AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
       |cand AS (SELECT DISTINCT sa.doc_id AS i, sb.doc_id AS j
       |  FROM shc sa JOIN shc sb ON sa.s = sb.s AND sa.doc_id < sb.doc_id),
       |inter AS (SELECT c.i, c.j, count(*) AS inter
       |  FROM cand c JOIN sh sa ON sa.doc_id = c.i
       |  JOIN sh sb ON sb.doc_id = c.j AND sb.s = sa.s GROUP BY 1, 2),
       |jac AS (SELECT i, j, inter * 1.0 / (si.n + sj.n - inter) AS jaccard
       |  FROM inter JOIN sizes si ON si.doc_id = i
       |  JOIN sizes sj ON sj.doc_id = j)
       |SELECT floor(jaccard * 10) / 10 AS bin, count(*)::BIGINT AS n_pairs
       |FROM jac GROUP BY 1 ORDER BY 1""".stripMargin

  // --- edit-similarity near-dup verification --------------------------------

  /** Minimum shared non-viral shingles for an edit-similarity candidate
    * pair: the DP verification is O(prefix²) per pair, so the candidate
    * stage must carry a real cost bound — at sf0.1 the ≥3 cut prunes the
    * pair set 110× (1.13 M → 10.3 k) while every observed ≥0.4 pair it
    * keeps is genuine. Like every candidate-generation rule in this file
    * it is a documented recall bound, not an approximation of the verify
    * metric: a pair sharing <3 rare shingles is never scored.
    */
  val EditSimMinShared = 3

  /** Edit-similarity near-dup pairs (the verification metric code-dataset
    * dedup uses — Chen et al. 2021 HumanEval decontamination; insertion/
    * deletion-sensitive where Jaccard is bag-of-shingles-blind): candidate
    * pairs share ≥ [[EditSimMinShared]] non-viral shingles (the
    * [[ngramJaccardPairs]] capped equi-join with a count cut — never
    * all-pairs), verified by Levenshtein over the lowercased `prefix`-char
    * head. edit_sim = 1 − dist/max(len); prefix bounds the O(len²) DP per
    * pair, the standard production cap.
    *
    * Engine parity: Spark's levenshtein counts code points, DuckDB's
    * counts bytes — identical on ASCII. The gate RELIES on the documents
    * fixture being ASCII in its first `prefix` chars; DedupSpec asserts
    * that property so a fixture change fails with a pointer here rather
    * than as an opaque hash mismatch. The operator itself is
    * code-point-correct regardless.
    *
    * Returns (i, j, dist, edit_sim) for pairs at or above `threshold`.
    */
  def editSimilarityPairs(docs: DataFrame, threshold: Double = 0.8,
      prefix: Int = 256, minShared: Int = EditSimMinShared): DataFrame = {
    val sh = docShingles(docs)
    val rare = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= MaxShingleDf).select(col("s"))
    val shc = sh.join(rare, "s")
    val cand = shc.as("a").join(shc.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .agg(count(lit(1)).as("__nsh"))
      .filter(col("__nsh") >= minShared)
      .select(col("i"), col("j"))
    val t = docs.select(col("doc_id"),
      substring(lower(col("text")), 1, prefix).as("t"))
    cand
      .join(t.select(col("doc_id").as("i"), col("t").as("ti")), "i")
      .join(t.select(col("doc_id").as("j"), col("t").as("tj")), "j")
      .withColumn("dist", levenshtein(col("ti"), col("tj")).cast("long"))
      .withColumn("edit_sim", round(lit(1.0) - col("dist").cast("double")
        / greatest(length(col("ti")), length(col("tj"))), 6))
      .filter(col("edit_sim") >= threshold)
      .select(col("i"), col("j"), col("dist"), col("edit_sim"))
  }

  /** DuckDB twin of [[editSimilarityPairs]]. Host query must start
    * `WITH <shViews>` (for `sh`).
    */
  def editSimilarityOracleSql(threshold: Double = 0.8,
      prefix: Int = 256, minShared: Int = EditSimMinShared): String =
    s"""rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= $MaxShingleDf),
       |shc AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
       |cand AS (
       |  SELECT sa.doc_id AS i, sb.doc_id AS j
       |  FROM shc sa JOIN shc sb ON sa.s = sb.s AND sa.doc_id < sb.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= $minShared),
       |tx AS (SELECT doc_id, substr(lower(text), 1, $prefix) AS t
       |  FROM documents),
       |ed AS (SELECT c.i, c.j,
       |    levenshtein(a.t, b.t)::BIGINT AS dist,
       |    round(1.0 - levenshtein(a.t, b.t)::DOUBLE /
       |      greatest(length(a.t), length(b.t)), 6) AS edit_sim
       |  FROM cand c JOIN tx a ON a.doc_id = c.i JOIN tx b ON b.doc_id = c.j)
       |SELECT i, j, dist, edit_sim FROM ed
       |WHERE edit_sim >= $threshold ORDER BY i, j""".stripMargin

  // --- Bloom-filter cross-snapshot dedup -----------------------------------

  /** Bloom parameters for the snapshot dedup: k seeded hash functions over
    * an m-bit set. Sized for the gate fixture; production callers size
    * m ≈ −n·ln(p)/ln(2)² for history size n and FP target p (Bloom 1970).
    */
  val BloomK = 5
  val BloomBits = 1 << 17

  /** Seeded bit position of a text's normalized content for hash function
    * `seed`: the repo's shared md5-derived 60-bit hash of "bf<seed>:<text>",
    * mod the bit width. Non-negative by construction (60-bit hash), so
    * DuckDB's plain `%` mirrors Spark's `pmod` exactly.
    */
  def bloomPosition(text: Column, seed: Int, mBits: Int = BloomBits): Column =
    pmod(mdhash64(concat(lit(s"bf$seed:"), normalized(text))), lit(mBits.toLong))

  /** Build the Bloom bitset of a history corpus: one distributed pass — each
    * partition ORs its docs' k bit positions into a local m-bit array, then
    * the arrays OR-merge up a tree. Memory is O(m) everywhere (driver,
    * executor) REGARDLESS of history size; bit-OR is commutative and
    * associative, so the result is partition-layout invariant.
    *
    * This is the cross-snapshot dedup shape at 100 TB: dedup a new crawl
    * against ALL prior snapshots without re-shuffling the prior corpus —
    * the alternative (an exact anti-join) shuffles the full multi-TB hash
    * set of history every run. A 2^17-bit set (16 KB) here; a 10 B-doc
    * history at 1% FP needs ~12 GB, past single-broadcast comfort — at
    * that size use [[bloomDedupSharded]]: B independent hash-prefix
    * blooms, built in one distributed pass and joined per shard, so no
    * single bitset exceeds m/8 bytes anywhere.
    */
  def bloomBitset(history: DataFrame, text: Column = col("text"),
      k: Int = BloomK, mBits: Int = BloomBits): Array[Long] = {
    import org.apache.spark.sql.Encoders
    val words = (mBits + 63) >>> 6
    history
      .select(explode(array((0 until k).map(s =>
        bloomPosition(text, s, mBits)): _*)).as("p"))
      .as[Long](Encoders.scalaLong)
      .rdd
      .treeAggregate(new Array[Long](words))(
        (b, p) => { b((p >>> 6).toInt) |= 1L << (p & 63); b },
        (a, b) => { var i = 0; while (i < words) { a(i) |= b(i); i += 1 }; a })
  }

  /** Probe incoming docs against a history bitset from [[bloomBitset]]:
    * `maybe_dup` is true iff ALL k seeded positions are set — Bloom
    * semantics, so false means definitely-new and true means
    * duplicate-with-FP-probability (1−e^(−kn/m))^k. One narrow codegen'd
    * pass (k [[graft.functions.BitsetProbe]]s AND-ed), no shuffle, no join:
    * the history never moves again.
    */
  def bloomDedup(incoming: DataFrame, bits: Array[Long],
      text: Column = col("text"), k: Int = BloomK,
      mBits: Int = BloomBits): DataFrame =
    incoming.withColumn("maybe_dup",
      (0 until k).map(s =>
        graft.functions.BitsetProbe(bloomPosition(text, s, mBits), bits))
        .reduce(_ && _))

  /** DuckDB twin of build+probe: history positions as a distinct set, a
    * probe doc is maybe_dup iff every seeded position joins — identical to
    * the bitset's union-of-set-bits membership, FPs included.
    * `historySql`/`incomingSql` must yield (doc_id, text).
    */
  def bloomDedupOracleSql(historySql: String, incomingSql: String,
      k: Int = BloomK, mBits: Int = BloomBits): String =
    s"""WITH hist AS ($historySql),
       |inc AS ($incomingSql),
       |hp AS (SELECT DISTINCT
       |    ('0x'||substr(md5('bf'||g.s||':'||
       |        regexp_replace(trim(lower(hist.text)), '\\s+', ' ', 'g')),1,15))::BIGINT
       |      % $mBits AS p
       |  FROM hist CROSS JOIN generate_series(0, ${k - 1}) g(s)),
       |ip AS (SELECT inc.doc_id, g.s,
       |    ('0x'||substr(md5('bf'||g.s||':'||
       |        regexp_replace(trim(lower(inc.text)), '\\s+', ' ', 'g')),1,15))::BIGINT
       |      % $mBits AS p
       |  FROM inc CROSS JOIN generate_series(0, ${k - 1}) g(s))
       |SELECT ip.doc_id, bool_and(hp.p IS NOT NULL) AS maybe_dup
       |FROM ip LEFT JOIN hp ON hp.p = ip.p
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // --- sharded Bloom (multi-GB filter histories) ----------------------------

  /** Shard id of a text's normalized content: a hash-prefix routing key
    * INDEPENDENT of the k probe hashes (its own seed string), so shard
    * choice is uncorrelated with which bits a doc sets.
    */
  def bloomShard(text: Column, shards: Int): Column =
    pmod(mdhash64(concat(lit("bfshard:"), normalized(text))),
      lit(shards.toLong))

  /** Build B independent Bloom bitsets keyed by hash-prefix shard, in ONE
    * distributed pass over the history (no per-shard rescan): explode each
    * doc's k positions tagged with its shard, then
    * `groupBy(shard).agg(BitsetAgg)` — map-side partial bitsets OR-merge
    * through the shuffle, and the output is B rows of (shard, m-bit
    * binary). Nothing is collected to the driver and no bitset is ever
    * broadcast: at the 10 B-doc / ~12 GB-total scale the unsharded
    * [[bloomBitset]] can't broadcast, this keeps every single array at
    * m/8 bytes (pick B = totalBits/2^31 or finer so a shard fits a row).
    *
    * Reference anchor: the fingerprint discipline that makes identity
    * probes cheap at scale (writer/utils/helputils/fingerprint.go) — here
    * re-expressed as Bloom membership so history never re-shuffles.
    */
  def bloomBitsetsSharded(history: DataFrame, text: Column = col("text"),
      shards: Int = 8, k: Int = BloomK, mBits: Int = BloomBits): DataFrame =
    history
      .select(bloomShard(text, shards).as("shard"),
        explode(array((0 until k).map(s =>
          bloomPosition(text, s, mBits)): _*)).as("p"))
      .groupBy(col("shard"))
      .agg(graft.functions.BitsetAgg(col("p"), mBits).as("bits"))

  /** Probe incoming docs against sharded Bloom bitsets from
    * [[bloomBitsetsSharded]]: each doc routes to exactly ONE shard (same
    * hash-prefix key), left-joins that shard's bitset, and is `maybe_dup`
    * iff the bitset exists and all k seeded positions are set. Shards with
    * no history row mean definitely-new.
    *
    * Scale shape: the join on `shard` moves each bitset to its matching
    * incoming partition once — the history itself never moves. With B
    * shards the probe join has B distinct keys; `replication` R > 1
    * salts it (each bitset duplicated R ways, incoming salted by doc hash)
    * for B·R-way parallelism when incoming is huge — semantics invariant,
    * spec-asserted. shards = 1 degenerates to exactly [[bloomDedup]]
    * (also spec-asserted).
    */
  def bloomDedupSharded(incoming: DataFrame, bitsets: DataFrame,
      text: Column = col("text"), shards: Int = 8, k: Int = BloomK,
      mBits: Int = BloomBits, replication: Int = 1): DataFrame = {
    import graft.functions.BitsetProbeBin
    val probe = (0 until k).map(s =>
      BitsetProbeBin(bloomPosition(text, s, mBits), col("bits")))
      .reduce(_ && _)
    val joined =
      if (replication <= 1) {
        incoming.withColumn("shard", bloomShard(text, shards))
          .join(bitsets, Seq("shard"), "left")
      } else {
        val rep = bitsets.withColumn("salt",
          explode(sequence(lit(0L), lit(replication - 1L))))
        incoming.withColumn("shard", bloomShard(text, shards))
          .withColumn("salt", pmod(mdhash64(concat(lit("bfsalt:"),
            normalized(text))), lit(replication.toLong)))
          .join(rep, Seq("shard", "salt"), "left")
          .drop("salt")
      }
    joined
      .withColumn("maybe_dup", coalesce(probe, lit(false)))
      .drop("shard", "bits")
  }

  /** DuckDB twin of the sharded build+probe: per-shard distinct position
    * sets, probe joins on (shard, position) — identical to B independent
    * bitsets' membership, per-shard FPs included (a position set only in
    * ANOTHER shard's bitset does not hit, which is where the sharded
    * semantics differ from [[bloomDedupOracleSql]] unless shards = 1).
    */
  def bloomDedupShardedOracleSql(historySql: String, incomingSql: String,
      shards: Int = 8, k: Int = BloomK, mBits: Int = BloomBits): String = {
    def norm(t: String) =
      s"regexp_replace(trim(lower($t)), '\\s+', ' ', 'g')"
    def shard(t: String) =
      s"('0x'||substr(md5('bfshard:'||${norm(t)}),1,15))::BIGINT % $shards"
    def pos(t: String) =
      s"('0x'||substr(md5('bf'||g.s||':'||${norm(t)}),1,15))::BIGINT % $mBits"
    s"""WITH hist AS ($historySql),
       |inc AS ($incomingSql),
       |hp AS (SELECT DISTINCT ${shard("hist.text")} AS shard,
       |    ${pos("hist.text")} AS p
       |  FROM hist CROSS JOIN generate_series(0, ${k - 1}) g(s)),
       |ip AS (SELECT inc.doc_id, ${shard("inc.text")} AS shard, g.s,
       |    ${pos("inc.text")} AS p
       |  FROM inc CROSS JOIN generate_series(0, ${k - 1}) g(s))
       |SELECT ip.doc_id, bool_and(hp.p IS NOT NULL) AS maybe_dup
       |FROM ip LEFT JOIN hp ON hp.shard = ip.shard AND hp.p = ip.p
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }
}
