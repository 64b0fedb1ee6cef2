package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import TextOps.mdhash64

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Two paths, as a 100 TB pipeline needs both:
  *   - brute-force cosine top-k — the exactness baseline; the QUERY side is
  *     broadcast (small), the corpus streams; never corpus×corpus
  *   - random-hyperplane LSH — the scale path: each vector lands in a
  *     2^P sign-bucket, candidates join within a bucket (plus optional
  *     1-bit multiprobe); recall is property-tested against brute force
  */
object Similarity {

  /** Cosine similarity between two double-array columns, computed in array
    * order (deterministic, reproducible by any engine).
    */
  /** One fused codegen'd pass (graft.functions.CosineSim) — the composed
    * aggregate(zip_with) form ran interpreted and traversed each array
    * three times, which dominated every embedding gate's runtime.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSim(a.cast("array<double>"), b.cast("array<double>"))

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Embedding-corpus quality report — the QA pass run before trusting
    * any cosine-based curation (Ethayarajh 2019 measures anisotropy as
    * the expected cosine between random embeddings; a collapsed/
    * anisotropic space makes every near-dup threshold meaningless):
    * per-label norm statistics plus the mean cosine to the GLOBAL mean
    * vector, the O(n·d) estimator of pairwise anisotropy (exact
    * E[cos(v, μ)] instead of sampling pairs — no n² work).
    *
    * Scale shape: one posexplode aggregate for μ (d rows, broadcast
    * back), one narrow pass for norms/cosines, one per-label aggregate.
    * μ's per-dimension means round to 6 dp before the cosine pass so
    * both engines score against identical doubles (the kmeans rule).
    * Returns (label, n, avg_norm, min_norm, max_norm, mean_cos_mu).
    */
  def embedStats(corpus: DataFrame): DataFrame = {
    val e = corpus.select(col("label"), asDouble(col("embedding")).as("v"))
    val mu = e.select(posexplode(col("v")).as(Seq("i", "x")))
      .groupBy(col("i")).agg(round(avg(col("x")), 6).as("x"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("x")))),
        s => s.getField("x")).as("mv"))
    val norm = sqrt(aggregate(transform(col("v"), x => x * x),
      lit(0.0), (acc, x) => acc + x))
    e.crossJoin(broadcast(mu))
      .select(col("label"), norm.as("norm"),
        cosine(col("v"), col("mv")).as("cmu"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("norm")), 6).as("avg_norm"),
        round(min(col("norm")), 6).as("min_norm"),
        round(max(col("norm")), 6).as("max_norm"),
        round(avg(col("cmu")), 6).as("mean_cos_mu"))
  }

  /** DuckDB twin of [[embedStats]]. */
  val EmbedStatsOracleSql: String = {
    val dot = (a: String, b: String) =>
      s"list_sum([$a[i]*$b[i] for i in generate_series(1,64)])"
    val cos = (a: String, b: String) =>
      s"${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"
    s"""WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
       |m AS (SELECT g.i, round(avg(v[g.i]), 6) AS x
       |  FROM e CROSS JOIN generate_series(1, 64) g(i) GROUP BY 1),
       |mu AS (SELECT list(x ORDER BY i) AS mv FROM m),
       |sc AS (SELECT label, sqrt(${dot("v", "v")}) AS norm,
       |    ${cos("v", "mv")} AS cmu
       |  FROM e CROSS JOIN mu)
       |SELECT label, count(*)::BIGINT AS n,
       |  round(avg(norm), 6) AS avg_norm, round(min(norm), 6) AS min_norm,
       |  round(max(norm), 6) AS max_norm, round(avg(cmu), 6) AS mean_cos_mu
       |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Exact top-k neighbors for each query vector (self excluded).
    * `queries` should be small relative to `corpus` — it is broadcast, so
    * the plan is a map-side loop over the corpus scan, no shuffle until
    * the per-query top-k.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("qid"), asDouble(col("embedding")).as("qe"))
    val c = corpus.select(col("vec_id").as("nid"), asDouble(col("embedding")).as("ne"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), cosine(col("qe"), col("ne")).as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("sim").desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  val Planes = 8  // FLOOR of planes per table (≥ 256 buckets/table)
  val Tables = 4  // independent hash tables (multi-table LSH)
  val Dims = 64   // embedding dimensionality (embeddings.parquet)

  /** Admission ceiling for [[ivfPqTopK]]'s broadcast ADC table (~40 B/row
    * → ~1.3 GB at the ceiling, inside Spark's practical broadcast range).
    */
  val MaxAdcBroadcastRows: Long = 1L << 25

  /** Planes per table scale with corpus size: `max(8, ⌈log₂(N)⌉)` — a FIXED
    * plane count makes bucket count constant, so candidate pairs grow
    * ~N²/2^P per table (the round-11 sf1 run measured embed_neardup 64× at
    * 10× rows). With ~N buckets the expected bucket size is O(1) and
    * candidate volume ~N·T — the same argument as the sqrt-N IVF centroid
    * spacing. Integer-exact bit-length form (`64 - nlz(N-1)`), mirrored in
    * the oracle as `length(bin(N-1))`, so both engines derive the identical
    * plane count at any scale factor.
    */
  def planesFor(corpusRows: Long): Int =
    math.max(Planes,
      64 - java.lang.Long.numberOfLeadingZeros(math.max(corpusRows, 2L) - 1))

  /** Deterministic pseudo-random hyperplane weight for (table, plane, dim):
    * md5-derived value scaled to [-1, 1) — the same 60-bit md5 hash the
    * DuckDB oracle computes (`('0x'||substr(md5(s),1,15))::BIGINT`).
    * Row-independent, so it is computed ONCE here and embedded as an array
    * literal: the previous expression form re-ran md5 per (element, plane,
    * table, row) — 2048 hashes per vector — inside a non-codegen lambda.
    */
  private def planeWeight(t: Int, p: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$t|$p|$d".getBytes("UTF-8")).map("%02x".format(_)).mkString
    (java.lang.Long.parseLong(md.substring(0, 15), 16) % 2000L - 1000L) / 1000.0
  }

  /** Sign-bucket of a vector under table t's `planes` hyperplanes. */
  def lshBucket(emb: Column, t: Int, planes: Int = Planes): Column = {
    val e = asDouble(emb)
    val dots = (0 until planes).map { p =>
      val w = typedLit((0 until Dims).map(d => planeWeight(t, p, d)))
      aggregate(zip_with(e, w, (v, wd) => v * wd), lit(0.0), (acc, v) => acc + v)
    }
    dots.zipWithIndex.map { case (dp, p) =>
      when(dp >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** All (table, bucket) keys of a vector — one row per table. */
  private def withBuckets(df: DataFrame, idCol: String, embCol: String,
      planes: Int): DataFrame = {
    val keys = (0 until Tables).map(t =>
      struct(lit(t).as("tbl"), lshBucket(col(embCol), t, planes).as("bkt")))
    df.select(col(idCol), asDouble(col(embCol)).as(embCol),
        explode(array(keys: _*)).as("tb"))
      .select(col(idCol), col(embCol), col("tb.tbl").as("tbl"), col("tb.bkt").as("bkt"))
  }

  /** Embedding-cosine near-duplicate pairs: candidate pairs share a sign
    * bucket in ANY hash table (per-bucket self-join — never all-pairs),
    * verified by exact cosine ≥ threshold. The scale shape of
    * embedding-level dedup: candidate volume is Σ bucket² per table
    * (buckets ≈ N/2^P), and the verify only scores candidates.
    */
  def embeddingNearDups(corpus: DataFrame, threshold: Double): DataFrame = {
    // one metadata-cheap count per index build picks the log₂(N)-scaled
    // plane count (same pattern as centroidModFor)
    val planes = planesFor(corpus.count())
    // materialized once: the hyperplane dot products per vector would
    // otherwise re-run on BOTH sides of the bucket self-join
    val b = graft.model.Materialize(
      withBuckets(corpus.select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", planes))
    val cand = b.as("a").join(b.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bkt") === col("b.bkt") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("i"), col("b.vec_id").as("j"),
        col("a.embedding").as("ei"), col("b.embedding").as("ej"))
      .dropDuplicates("i", "j")
    cand.select(col("i"), col("j"), cosine(col("ei"), col("ej")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Base modulus for the IVF coarse-quantizer sample: corpus vectors with
    * `vec_id % mod == 0` ARE the centroids (random-sample initialization
    * without Lloyd refinement — deterministic, so any engine reproduces
    * the exact cell structure). The effective modulus grows with corpus
    * size as `max(CentroidMod, floor(sqrt(n)))`: a FIXED spacing makes the
    * centroid count linear in n and the assignment pass (n·C dots)
    * quadratic — the round-9 sf1 scale run measured exactly that (79× at
    * 10× rows). With C ≈ sqrt(n) centroids, assignment is n·sqrt(n) and
    * per-query probe cost stays ~constant — the standard IVF scaling.
    */
  val CentroidMod = 23L

  /** Production centroid-count cap: √n centroids must fit a broadcast
    * (the assignment pass ships C·D doubles to every executor) AND bound
    * the Lloyd means shuffle at C·D rows. √n crosses 4096 at ~16.7 M
    * vectors — past that, spacing widens to n/4096 so C stays ≤ 4096
    * (a 2 MB broadcast at D = 64): cells grow beyond √n instead, which
    * only lengthens the per-query rerank, the side that parallelizes
    * freely. Below 16.7 M rows the cap never binds, so every fixture
    * result (and DuckDB oracle, which mirrors the full formula) is
    * unchanged.
    */
  val MaxCentroids = 4096L

  def centroidModFor(corpusRows: Long): Long =
    math.max(CentroidMod, math.max(
      math.sqrt(corpusRows.toDouble).toLong,
      (corpusRows + MaxCentroids - 1) / MaxCentroids))

  /** THE DuckDB expression of [[centroidModFor]] over `count(*)`, built
    * from the same constants — every centroid-family oracle interpolates
    * this one string (a hand-copied fragment drifting from the Scala
    * formula would only surface as a gate failure past ~16.7 M vectors).
    */
  val CentroidModSql: String =
    s"GREATEST($CentroidMod, CAST(floor(sqrt(count(*))) AS BIGINT), " +
      s"(count(*) + ${MaxCentroids - 1}) // $MaxCentroids)"

  /** Rank every row of `df` against the broadcast centroid table by
    * cosine (desc, cid-asc tie-break): the shared coarse-quantizer pass
    * of [[ivfTopK]] / [[ivfHardNegatives]]. Keeps (id, emb, cid, __cs,
    * __r).
    */
  /** Best (max-cosine, cid-asc tie) centroid per row — the `__r === 1`
    * head of [[cellRankAgainst]] computed as a hash aggregate instead of
    * a row_number window: `max_by` over the lexicographic (cosine, −cid)
    * ordering picks the identical row, but partially combines MAP-SIDE,
    * so the n·C ranking stream reduces to n rows before any exchange —
    * the window form shuffled all n·C rows. Keeps (id, emb, cid, ce,
    * __cs); NaN cosines sort greatest under both forms (Spark's double
    * ordering), so tie/edge behavior is unchanged.
    */
  private def cellArgmax(cents: DataFrame)(
      df: DataFrame, id: String, emb: String): DataFrame =
    df.crossJoin(broadcast(cents))
      .select(col(id), col(emb), col("cid"), col("ce"),
        cosine(col(emb), col("ce")).as("__cs"))
      .groupBy(col(id))
      .agg(max_by(
        struct(col(emb).as("e"), col("cid").as("cid"), col("ce").as("ce"),
          col("__cs").as("__cs")),
        struct(col("__cs"), (-col("cid")).as("t"))).as("__m"))
      .select(col(id), col("__m.e").as(emb), col("__m.cid").as("cid"),
        col("__m.ce").as("ce"), col("__m.__cs").as("__cs"))

  private def cellRankAgainst(cents: DataFrame)(
      df: DataFrame, id: String, emb: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(id))
      .orderBy(col("__cs").desc, col("cid").asc)
    df.crossJoin(broadcast(cents))
      .select(col(id), col(emb), col("cid"),
        cosine(col(emb), col("ce")).as("__cs"))
      .withColumn("__r", row_number().over(w))
  }

  /** IVF-style ANN, the coarse-quantizer scale path: every corpus vector
    * is assigned to its max-cosine centroid in one broadcast pass (N·C
    * dots, map-side, no shuffle until the per-vector argmax); a query
    * probes its `nprobe` nearest cells and reranks the cells' members
    * exactly. Candidate volume ≈ nprobe·N/C per query vs N for brute
    * force. Ties break on ascending centroid/neighbor id so the DuckDB
    * oracle reproduces the exact ranking.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nprobe: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // one metadata-cheap count picks the sqrt-scaled centroid spacing;
    // a resident service would compute this once per index build
    val mod = centroidModFor(corpus.count())
    val cents = corpus.filter(pmod(col("vec_id"), lit(mod)) === 0)
      .select(col("vec_id").as("cid"), asDouble(col("embedding")).as("ce"))
    val assigned = cellArgmax(cents)(
        corpus.select(col("vec_id").as("nid"), asDouble(col("embedding")).as("ne")),
        "nid", "ne")
      .select(col("nid"), col("ne"), col("cid").as("cell"))
    val probes = cellRankAgainst(cents)(
        queries.select(col("vec_id").as("qid"), asDouble(col("embedding")).as("qe")),
        "qid", "qe")
      .filter(col("__r") <= nprobe)
      .select(col("qid"), col("qe"), col("cid").as("cell"))
    val cand = assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("qid") =!= col("nid"))
    val scored = cand.select(col("qid"), col("nid"),
      cosine(col("qe"), col("ne")).as("sim"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Metadata-filtered ANN (the filtered-search every vector store
    * exposes: top-k among corpus rows satisfying a predicate — tenant,
    * language, date-range). PRE-filtering: `pred` (over the corpus's
    * metadata columns, carried through the index) applies to the assigned
    * index rows BEFORE the probe join, so (a) the k guarantee holds among
    * matching rows — no post-filter shortfall when the filter is
    * selective, the classic filtered-ANN failure mode — and (b) Catalyst
    * pushes the predicate into the index-side scan. Probe shape is
    * [[ivfTopK]]'s (n·√N coarse assignment, nprobe cells, exact rerank in
    * the candidate set). [[ivfHardNegatives]] is the per-query-relative
    * special case of this (pred depends on the query row); this is the
    * constant-predicate form. Returns (qid, nid, rank, sim 6dp).
    */
  def ivfFilteredTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      pred: Column, nprobe: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val mod = centroidModFor(corpus.count())
    val cents = corpus.filter(pmod(col("vec_id"), lit(mod)) === 0)
      .select(col("vec_id").as("cid"), asDouble(col("embedding")).as("ce"))
    val meta = corpus.drop("embedding").withColumnRenamed("vec_id", "nid")
    val assigned = cellArgmax(cents)(
        corpus.select(col("vec_id").as("nid"), asDouble(col("embedding")).as("ne")),
        "nid", "ne")
      .select(col("nid"), col("ne"), col("cid").as("cell"))
      .join(meta, "nid")
      .filter(pred)
    val probes = cellRankAgainst(cents)(
        queries.select(col("vec_id").as("qid"), asDouble(col("embedding")).as("qe")),
        "qid", "qe")
      .filter(col("__r") <= nprobe)
      .select(col("qid"), col("qe"), col("cid").as("cell"))
    val cand = assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("qid") =!= col("nid"))
    val scored = cand.select(col("qid"), col("nid"),
      cosine(col("qe"), col("ne")).as("sim"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank").cast("long").as("rank"),
        round(col("sim"), 6).as("sim"))
  }

  /** Hard-negative mining for contrastive training (the retrieval-training
    * data-prep pass of DPR/Contriever-style pipelines): for each query
    * vector, the top-k most-similar corpus vectors carrying a DIFFERENT
    * label — near-misses the trainer must learn to separate. Same IVF
    * probe shape as [[ivfTopK]] (n·√N coarse assignment, nprobe cells per
    * query, exact rerank inside the candidate set), with the label
    * inequality applied BEFORE the rank window so the k guarantee holds
    * among negatives. Returns (qid, nid, rank, sim 6dp).
    */
  def ivfHardNegatives(queries: DataFrame, corpus: DataFrame, k: Int,
      nprobe: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val mod = centroidModFor(corpus.count())
    val cents = corpus.filter(pmod(col("vec_id"), lit(mod)) === 0)
      .select(col("vec_id").as("cid"), asDouble(col("embedding")).as("ce"))
    val assigned = cellArgmax(cents)(
        corpus.select(col("vec_id").as("nid"), asDouble(col("embedding")).as("ne")),
        "nid", "ne")
      .select(col("nid"), col("ne"), col("cid").as("cell"))
      .join(corpus.select(col("vec_id").as("nid"), col("label").as("nlbl")), "nid")
    val probes = cellRankAgainst(cents)(
        queries.select(col("vec_id").as("qid"), asDouble(col("embedding")).as("qe")),
        "qid", "qe")
      .filter(col("__r") <= nprobe)
      .select(col("qid"), col("qe"), col("cid").as("cell"))
      .join(queries.select(col("vec_id").as("qid"), col("label").as("qlbl")), "qid")
    val cand = assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("qid") =!= col("nid") && col("qlbl") =!= col("nlbl"))
    val scored = cand.select(col("qid"), col("nid"),
      cosine(col("qe"), col("ne")).as("sim"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank").cast("long").as("rank"),
        round(col("sim"), 6).as("sim"))
  }

  /** Distributed spherical k-means (Lloyd) refinement: starts from the
    * same deterministic √N-spaced seed centroids the IVF index uses and
    * runs `iters` full Lloyd rounds (cosine-argmax assignment → per-cell
    * element-wise mean), returning the final assignment. This is the
    * clustering primitive behind data-mixture balancing and
    * SemDeDup-style curation when the sampled seeds aren't tight enough.
    *
    * Scale shape per round: one broadcast crossJoin for assignment (N·C
    * dots, map-side — centroids must fit a broadcast, the same constraint
    * the IVF family carries) and one explode→groupBy for the means (C·D
    * result rows). Each round's centroids are [[graft.model.Materialize]]d
    * so the two consumers (next assignment + empty-cell carry) read one
    * physical computation and the plan doesn't double per iteration.
    *
    * Determinism across engines: means are rounded to 6 dp BEFORE the
    * next assignment (the BM25/avg-chain precedent — far above double
    * summation-order noise, so both engines assign against identical
    * centroids); argmax ties break on ascending cid. A cell that loses
    * all members (possible only via an exact-duplicate seed tie) carries
    * its previous centroid. Cosine is scale-invariant, so the means are
    * deliberately NOT re-normalized.
    *
    * Returns (vec_id, cluster, sim) — cluster = seed vec_id of the final
    * cell, sim = cosine to its final centroid rounded to 6 dp.
    */
  def kmeansRefine(corpus: DataFrame, iters: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val mod = centroidModFor(corpus.count())
    // The assignment input is read by every Lloyd round (iters + 1 assign
    // passes): materialize the float→double conversion ONCE so each round
    // reads cached blocks instead of re-running scan + conversion — the
    // standard "cache the training set across iterations" rule. Measured
    // at sf1 (BENCH_sf1.json r16 note): the un-cached chain re-ran the
    // conversion 3× and its isolated-JVM time swung 6× with JIT/GC state.
    val e = graft.model.Materialize(
      corpus.select(col("vec_id"), asDouble(col("embedding")).as("v")))
    val seeds = e.filter(pmod(col("vec_id"), lit(mod)) === 0)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    // argmax as a max_by hash aggregate (see cellArgmax): identical row
    // per vec_id, map-side combined instead of a full n·C window shuffle
    // — this runs iters+1 times, once per Lloyd round
    def assign(cents: DataFrame): DataFrame =
      e.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("v"), col("cid"),
          cosine(col("v"), col("cv")).as("__cs"))
        .groupBy(col("vec_id"))
        .agg(max_by(
          struct(col("v").as("v"), col("cid").as("cid"),
            col("__cs").as("__cs")),
          struct(col("__cs"), (-col("cid")).as("t"))).as("__m"))
        .select(col("vec_id"), col("__m.v").as("v"),
          col("__m.cid").as("cid"), col("__m.__cs").as("__cs"))
    val fin = (1 to iters).foldLeft(seeds) { (cents, _) =>
      val means = assign(cents)
        .select(col("cid"), posexplode(col("v")).as(Seq("i", "x")))
        .groupBy(col("cid"), col("i")).agg(round(avg(col("x")), 6).as("x"))
        .groupBy(col("cid")).agg(
          transform(array_sort(collect_list(struct(col("i"), col("x")))),
            s => s.getField("x")).as("mv"))
      graft.model.Materialize(
        cents.join(means, Seq("cid"), "left")
          .select(col("cid"), coalesce(col("mv"), col("cv")).as("cv")))
    }
    assign(fin).select(col("vec_id"), col("cid").as("cluster"),
      round(col("__cs"), 6).as("sim"))
  }

  /** Default prototypicality-prune fraction as a RATIONAL (1/5): the keep
    * rule is integer cross-multiplication (`rank·den > csize·num`), so no
    * float sits on a comparison boundary in either engine.
    */
  val ProtoPruneNum = 1
  val ProtoPruneDen = 5

  /** Prototypicality pruning (Sorscher et al. 2022, "Beyond neural scaling
    * laws"): within each k-means cluster, rank examples by closeness to
    * their centroid (cosine sim desc) and DROP the most prototypical
    * `num/den` fraction — when data is abundant, the easy/redundant core
    * of each cluster contributes least to the scaling curve, and pruning
    * it beats random pruning. Keep = rank·den > csize·num.
    *
    * Scale shape: rides [[kmeansRefine]] (broadcast-assignment rounds),
    * then one window partitioned by cluster — cluster sizes are ≈ N/√N =
    * √N by construction of the seed grid, so no window partition degrades
    * toward the un-partitioned case. Ties (sim, then vec_id) are total, so
    * ranks are deterministic.
    *
    * Returns (vec_id, cluster, sim, rank, csize, keep).
    */
  def protoPrune(corpus: DataFrame, num: Int = ProtoPruneNum,
      den: Int = ProtoPruneDen, iters: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val a = kmeansRefine(corpus, iters)
    val w = Window.partitionBy("cluster")
      .orderBy(col("sim").desc, col("vec_id").asc)
    a.withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("csize",
        count(lit(1)).over(Window.partitionBy("cluster")).cast("long"))
      .withColumn("keep", col("rank") * den > col("csize") * num)
  }

  /** Approximate top-k via multi-table LSH: a candidate shares the query's
    * bucket in ANY of the T tables (union via the exploded (table, bucket)
    * join, deduped). Per-table bucket size ≈ N/2^P, so the candidate set is
    * ≈ T·N/2^P per query instead of N. Recall is high for high-similarity
    * neighbors (the dedup use case); weakly-similar neighbors need more
    * tables or brute force — see LlmSpec's recall property test.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val planes = planesFor(corpus.count())
    val q = withBuckets(queries.select(col("vec_id").as("qid"), col("embedding")), "qid", "embedding", planes)
      .withColumnRenamed("embedding", "qe")
    val c = withBuckets(corpus.select(col("vec_id").as("nid"), col("embedding")), "nid", "embedding", planes)
      .withColumnRenamed("embedding", "ne")
    val cand = c.join(broadcast(q), Seq("tbl", "bkt"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), col("qe"), col("ne"))
      .dropDuplicates("qid", "nid")
    val scored = cand.select(col("qid"), col("nid"),
      cosine(col("qe"), col("ne")).as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("sim").desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Int8 scalar quantization of the embedding column — the memory lever
    * every billion-vector ANN index pulls first (4× smaller than float32,
    * SIMD-friendly distance kernels). Codebook = per-dimension global
    * (min, max); code c_i = round((x_i − min_i)·255/(max_i − min_i)),
    * reconstruction x̂_i = min_i + c_i·(max_i − min_i)/255. Returns one
    * row per vector: (vec_id, code_sum, max_abs_err) — the integer code
    * checksum pins the codes bit-exactly against the oracle, and the
    * max-reconstruction-error (an order-independent statistic, immune to
    * float re-association) is what a pipeline thresholds to decide whether
    * int8 is safe for its recall budget.
    *
    * Scale shape: the codebook is ONE tiny aggregate (64 (dim, min, max)
    * rows via a map-side-combined posexplode groupBy) broadcast back;
    * quantize + reconstruct + error are a single narrow pass over the
    * corpus — no shuffle, no pairwise work.
    */
  def scalarQuantize(emb: DataFrame): DataFrame = {
    val e = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val dims = e.select(posexplode(col("v")).as(Seq("d", "x")))
      .groupBy(col("d")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    // array_sort on (d, …) structs orders by the leading dim index, so the
    // collected codebook arrays are positionally aligned with the vectors
    val cb = dims.agg(
      transform(array_sort(collect_list(struct(col("d"), col("mn")))),
        s => s.getField("mn")).as("mins"),
      transform(array_sort(collect_list(struct(col("d"), col("mx")))),
        s => s.getField("mx")).as("maxs"))
    val span = zip_with(col("maxs"), col("mins"), (mx, mn) => mx - mn)
    val codes = zip_with(
      zip_with(col("v"), col("mins"), (x, mn) => x - mn), span,
      (num, den) => when(den === 0d, lit(0L))
        .otherwise(round(num * 255d / den).cast("long")))
    val recon = zip_with(
      zip_with(col("codes"), col("mins"), (c, mn) => struct(c.as("c"), mn.as("mn"))),
      span,
      (cm, den) => cm.getField("mn") + cm.getField("c") * den / 255d)
    e.crossJoin(broadcast(cb))
      .withColumn("codes", codes)
      .withColumn("recon", recon)
      .select(col("vec_id"),
        aggregate(col("codes"), lit(0L), (acc, c) => acc + c).as("code_sum"),
        round(array_max(zip_with(col("v"), col("recon"),
          (a, b) => abs(a - b))), 6).as("max_abs_err"))
  }

  /** IVF-PQ (IVFADC, Jégou et al. 2011 §IV) — the composed index a
    * billion-vector corpus actually serves from: the IVF coarse quantizer
    * routes each vector to its max-cosine cell, and PQ codes the RESIDUAL
    * (x − centroid) in `m` subspaces; a query probes its `nprobe` nearest
    * cells and ranks the cells' members by asymmetric distance (ADC): the
    * query's per-(subspace, codeword) distance table is built once per
    * probed cell, then each member costs m table lookups — never a full
    * D-dim distance.
    *
    * Deterministic structure so any engine reproduces it: coarse centroids
    * are the `vec_id % mod == 0` sample (mod = √N-scaled, same as
    * [[ivfTopK]]); the PQ codebook per subspace is the residual
    * sub-vectors of the `vec_id % mod == 1` sample — the OFFSET sample,
    * because the centroids' own residuals are ≈0 and would collapse the
    * codebook. Ties break on ascending id everywhere.
    *
    * Scale shape: centroids and codebook broadcast (√N each); corpus
    * passes are n·√N coarse dots + n·m·√N code assignment (broadcast
    * join + K-bounded argmin window) — the same n·√n as the plain IVF
    * build; the query side joins the n·m code table against a broadcast
    * ADC table keyed (cell, s, code) and folds m lookups per candidate.
    * No corpus×corpus work anywhere.
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nprobe: Int = 4, m: Int = 16, rerank: Int = 4,
      adcBudgetRows: Long = MaxAdcBroadcastRows): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Dims / m
    val n = corpus.count()
    val mod = centroidModFor(n)
    // the per-query ADC table broadcasts queries×nprobe×m×K rows (K =
    // codebook size ≈ √N) — built for query BATCHES, not corpus-sized
    // query sets. Admission-check it up front (same fail-fast discipline
    // as promql.Guards): a clear refusal beats an executor OOM an hour in.
    val nq = queries.count()
    val codebookK = n / mod + 1
    val adcRows = nq * nprobe.toLong * m.toLong * codebookK
    require(adcRows <= adcBudgetRows,
      s"ivfPqTopK ADC table would broadcast ~$adcRows rows " +
        s"($nq queries x $nprobe probes x $m subspaces x ~$codebookK codes) " +
        s"> budget $adcBudgetRows; batch the query set (the corpus index " +
        "is reusable across batches) or raise adcBudgetRows")
    val cents = corpus.filter(pmod(col("vec_id"), lit(mod)) === 0)
      .select(col("vec_id").as("cid"), asDouble(col("embedding")).as("ce"))
    // coarse assignment runs on the RAW arrays, exactly as [[ivfTopK]]
    // (cosine is scale-invariant, so the cell structure — and therefore
    // the candidate set at equal probe budget — is identical bit for bit)
    def cellRank(df: DataFrame, id: String, emb: String): DataFrame = {
      val w = Window.partitionBy(col(id))
        .orderBy(col("__cs").desc, col("cid").asc)
      df.crossJoin(broadcast(cents))
        .select(col(id), col(emb), col("cid"), col("ce"),
          cosine(col(emb), col("ce")).as("__cs"))
        .withColumn("__r", row_number().over(w))
    }
    // residuals live in the NORMALIZED space (x/‖x‖ − c/‖c‖): then
    // ADC's L2 on residuals equals L2(q̂, x̂-reconstruction) equals
    // 2−2·cos — the metric the exactness baseline ranks by
    def unit(c: Column): Column = {
      val n = sqrt(aggregate(transform(c, x => x * x), lit(0.0),
        (acc, x) => acc + x))
      transform(c, x => x / n)
    }
    def subspaces(df: DataFrame, id: String, vcol: String): DataFrame =
      df.select(col(id), col("cell"), explode(array((0 until m).map(s =>
          struct(lit(s).as("s"), slice(col(vcol), s * d + 1, d).as("sub"))): _*)).as("ss"))
        .select(col(id), col("cell"), col("ss.s").as("s"), col("ss.sub").as("sub"))
    // codegen'd d-term expansion instead of aggregate(zip_with(…)) — the
    // HOF pair runs interpreted per row, and this expression sits on the
    // n·m·K code-assignment stream, the hottest loop of the index build.
    // Bit-exact: the left-assoc reduce adds the same doubles in the same
    // order as the HOF fold (0.0 + x₁ ≡ x₁).
    val l2 = (1 to d).map { i =>
      val diff = element_at(col("sub"), i) - element_at(col("csub"), i)
      diff * diff
    }.reduce(_ + _)
    // corpus: best cell, normalized-space residual, residual subspaces
    // (materialized — the codebook filter and the code assignment both
    // read it)
    val assigned = cellArgmax(cents)(
        corpus.select(col("vec_id").as("nid"), asDouble(col("embedding")).as("ne")),
        "nid", "ne")
      .select(col("nid"), col("cid").as("cell"),
        zip_with(unit(col("ne")), unit(col("ce")), (a, b) => a - b).as("rv"))
    val rsubs = graft.model.Materialize(subspaces(assigned, "nid", "rv"))
    val cb = rsubs.filter(pmod(col("nid"), lit(mod)) === 1)
      .select(col("nid").as("cid2"), col("s"), col("sub").as("csub"))
    // argmin via min(struct(__d, cid2)) — lexicographic struct min IS the
    // (distance asc, cid2 asc) window head, but as a hash aggregate with
    // MAP-SIDE partial combine: the n·m·K assignment rows reduce to n·m
    // before the exchange, where the row_number window shuffled them all
    val codes = rsubs.join(broadcast(cb), Seq("s"))
      .select(col("nid"), col("cell"), col("s"), col("cid2"), l2.as("__d"))
      .groupBy(col("nid"), col("cell"), col("s"))
      .agg(min(struct(col("__d"), col("cid2"))).as("__m"))
      .select(col("nid"), col("cell"), col("s"), col("__m.cid2").as("cid2"))
    // query: nprobe cells, per-cell normalized residual, ADC table
    val probes = cellRank(
        queries.select(col("vec_id").as("qid"), asDouble(col("embedding")).as("qe")),
        "qid", "qe")
      .filter(col("__r") <= nprobe)
      .select(col("qid"), col("cid").as("cell"),
        zip_with(unit(col("qe")), unit(col("ce")), (a, b) => a - b).as("qr"))
    val adc = subspaces(probes, "qid", "qr").join(cb, Seq("s"))
      .select(col("qid"), col("cell"), col("s"), col("cid2"), l2.as("__qd"))
    // each member's m codes look up the probed cell's ADC entries; the
    // per-candidate fold sums subspace-ordered so both engines add the
    // same doubles in the same order
    val cand = codes.join(broadcast(adc), Seq("cell", "s", "cid2"))
      .filter(col("qid") =!= col("nid"))
    val scored = cand.groupBy(col("qid"), col("nid")).agg(
      sqrt(aggregate(
        transform(array_sort(collect_list(struct(col("s"), col("__qd")))),
          x => x.getField("__qd")),
        lit(0.0), (acc, x) => acc + x)).as("adist"))
    // ADC shortlist (rerank·k per query), then exact rerank with the full
    // vectors — Jégou 2011 §V's IVFADC-R: the codes pick the shortlist,
    // the D-dim distance is paid only rerank·k times per query
    val sw = Window.partitionBy(col("qid"))
      .orderBy(col("adist").asc, col("nid").asc)
    val shortlist = scored.withColumn("__sr", row_number().over(sw))
      .filter(col("__sr") <= rerank * k)
      .select(col("qid"), col("nid"), col("adist"))
    val qe = queries.select(col("vec_id").as("qid"),
      asDouble(col("embedding")).as("qe"))
    val ne = corpus.select(col("vec_id").as("nid"),
      asDouble(col("embedding")).as("ne"))
    val exact = shortlist.join(ne, Seq("nid")).join(broadcast(qe), Seq("qid"))
      .select(col("qid"), col("nid"), col("adist"),
        cosine(col("qe"), col("ne")).as("sim"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("nid").asc)
    exact.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank"), col("sim"), col("adist"))
  }

  /** Product quantization (Jégou et al. 2011) — the other memory lever of
    * billion-vector ANN: split D dims into `m` subspaces, quantize each
    * sub-vector to its nearest per-subspace centroid, store only the m
    * code ids (64 dims × f32 → 8 bytes at m=8). Returns one row per
    * vector: (vec_id, code_sum, recon_err) — the integer sum of assigned
    * centroid ids pins the code assignment bit-exactly against the
    * oracle; the total reconstruction error (√Σ per-subspace min-dist²)
    * is the quantity a pipeline thresholds against its recall budget.
    *
    * Deterministic codebook: per subspace, the sub-vectors of corpus rows
    * with `vec_id % mod == 0` ARE the centroids (mod = the same
    * √N-scaled spacing as [[centroidModFor]] — a production PQ runs
    * Lloyd's with fixed K=256, but the sampled codebook is reproducible
    * by any engine, and keeps the same scale shape: assignment is
    * n·m·K·(D/m) = n·K·D ≈ n·√n·D, identical to the IVF coarse pass).
    * Scale: the codebook broadcasts (m·K rows of D/m doubles); the
    * assignment is a map-side broadcast join + per-(vector, subspace)
    * argmin window bounded by K; no corpus×corpus work anywhere.
    * Ties break on ascending centroid id; the per-vector error sums in
    * subspace order via a sorted collect so both engines add the same
    * doubles in the same order.
    */
  def productQuantize(emb: DataFrame, m: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Dims / m
    val mod = centroidModFor(emb.count())
    val e = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val subs = e.select(col("vec_id"), explode(array((0 until m).map(s =>
        struct(lit(s).as("s"), slice(col("v"), s * d + 1, d).as("sub"))): _*)).as("ss"))
      .select(col("vec_id"), col("ss.s").as("s"), col("ss.sub").as("sub"))
    val cents = subs.filter(pmod(col("vec_id"), lit(mod)) === 0)
      .select(col("vec_id").as("cid"), col("s"), col("sub").as("csub"))
    val l2 = aggregate(zip_with(col("sub"), col("csub"),
      (a, b) => (a - b) * (a - b)), lit(0.0), (acc, x) => acc + x)
    val w = Window.partitionBy(col("vec_id"), col("s"))
      .orderBy(col("__d").asc, col("cid").asc)
    val best = subs.join(broadcast(cents), Seq("s"))
      .select(col("vec_id"), col("s"), col("cid"), l2.as("__d"))
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") === 1)
    best.groupBy(col("vec_id")).agg(
      sum(col("cid")).as("code_sum"),
      round(sqrt(aggregate(
        transform(array_sort(collect_list(struct(col("s"), col("__d")))),
          x => x.getField("__d")),
        lit(0.0), (acc, x) => acc + x)), 6).as("recon_err"))
  }

  /** DuckDB twin of [[productQuantize]] — same sampled codebook, same
    * tie-break, same subspace-ordered error summation.
    */
  def productQuantizeOracleSql(m: Int = 8): String = {
    val d = Dims / m
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cmod AS (SELECT ${CentroidModSql} AS md FROM e),
       |subs AS (SELECT vec_id, s, v[s*$d+1 : s*$d+$d] AS sub
       |  FROM e, generate_series(0, ${m - 1}) ss(s)),
       |cents AS (SELECT vec_id AS cid, s, sub AS csub FROM subs
       |  WHERE vec_id % (SELECT md FROM cmod) = 0),
       |dist AS (SELECT subs.vec_id, subs.s, c.cid,
       |    list_sum([(subs.sub[i]-c.csub[i])*(subs.sub[i]-c.csub[i])
       |      for i in generate_series(1,$d)]) AS dd
       |  FROM subs JOIN cents c ON c.s = subs.s),
       |best AS (SELECT vec_id, s, cid, dd FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY dd, cid) AS rn
       |    FROM dist) WHERE rn = 1)
       |SELECT vec_id, SUM(cid)::BIGINT AS code_sum,
       |  round(sqrt(list_sum(list(dd ORDER BY s))), 6) AS recon_err
       |FROM best GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** DuckDB twin of [[scalarQuantize]] — same codebook, same rounding
    * (both engines round half away from zero for positive arguments).
    */
  /** Embedding-level benchmark decontamination — the semantic complement
    * of the n-gram [[graft.llm.Dedup.decontaminate]]: a corpus vector is
    * contaminated when its cosine to ANY held-out eval vector clears the
    * threshold (paraphrased eval leakage that n-gram overlap misses).
    * Emits every corpus vector with its max eval similarity (rounded
    * 6 dp, then thresholded — the repo's boundary rule) and the flag.
    *
    * Scale shape: the eval set is small by construction — it broadcasts,
    * and the plan is a map-side loop over the corpus scan (fused
    * [[graft.functions.CosineSim]] per pair) with one per-vector
    * aggregate; no corpus×corpus work, no shuffle before the agg. If the
    * corpus contains an eval vector verbatim it self-flags at sim 1.0 —
    * which IS contamination.
    */
  def semanticDecontaminate(corpus: DataFrame, bench: DataFrame,
      threshold: Double): DataFrame = {
    val c = corpus.select(col("vec_id"), asDouble(col("embedding")).as("ce"))
    val b = bench.select(col("vec_id").as("bid"), asDouble(col("embedding")).as("be"))
    c.crossJoin(broadcast(b))
      .groupBy("vec_id")
      .agg(round(max(cosine(col("ce"), col("be"))), 6).as("max_sim"))
      .select(col("vec_id"), col("max_sim"),
        (col("max_sim") >= threshold).as("contaminated"))
  }

  /** DuckDB twin of [[semanticDecontaminate]] with eval = `vec_id % 25 = 0`
    * and corpus = the rest.
    */
  def semanticDeconOracleSql(threshold: Double): String = {
    val dot = (a: String, b: String) =>
      s"list_sum([$a[i]*$b[i] for i in generate_series(1,$Dims)])"
    val cos = (a: String, b: String) =>
      s"${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |b AS (SELECT vec_id AS bid, v AS bv FROM e WHERE vec_id % 25 = 0),
       |c AS (SELECT vec_id, v FROM e WHERE vec_id % 25 <> 0),
       |s AS (SELECT c.vec_id, round(max(${cos("c.v", "b.bv")}), 6) AS max_sim
       |  FROM c CROSS JOIN b GROUP BY 1)
       |SELECT vec_id, max_sim, max_sim >= $threshold AS contaminated
       |FROM s ORDER BY vec_id""".stripMargin
  }

  /** Johnson–Lindenstrauss signed random projection (Achlioptas 2003 dense
    * ±1 variant): reduce the `Dims`-dim embedding to `outDim` dims with a
    * seeded md5-derived sign matrix, y_j = (Σ_i x_i·r(i,j)) / √outDim —
    * the dimensionality-reduction pass a pipeline runs before LSH/IVF when
    * raw embeddings are wider than the index needs. Emitted in long form
    * `(vec_id, j, y)` so the result is fully ordered.
    *
    * Scale shape: one codegen'd narrow pass per row
    * ([[graft.functions.VecProject]], the matrix rides the plan as a
    * reference object — no join, no shuffle until the caller aggregates);
    * the posexplode multiplies rows by outDim only at output.
    */
  def randomProject(emb: DataFrame, outDim: Int): DataFrame =
    emb.select(col("vec_id"),
        posexplode(graft.functions.VecProject(
          asDouble(col("embedding")), Dims, outDim)))
      .select(col("vec_id"), col("pos").as("j"), round(col("col"), 6).as("y"))

  /** DuckDB twin of [[randomProject]] (scale interpolated from the same
    * Scala constant so no engine-side sqrt is involved).
    */
  def randomProjectOracleSql(outDim: Int): String = {
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |pj AS (SELECT vec_id, j,
       |    round(list_sum([v[i] *
       |        (CASE WHEN ('0x'||substr(md5('rp:'||j||':'||(i-1)),1,15))::BIGINT
       |                   % 2 = 0 THEN 1.0 ELSE -1.0 END)
       |      for i in generate_series(1, $Dims)]) * $scale, 6) AS y
       |  FROM e CROSS JOIN generate_series(0, ${outDim - 1}) g(j))
       |SELECT vec_id, j, y FROM pj ORDER BY vec_id, j""".stripMargin
  }

  def scalarQuantizeOracleSql(dims: Int = Dims): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |dx AS (SELECT i, min(v[i]) AS mn, max(v[i]) AS mx
       |  FROM e, unnest([x for x in generate_series(1, $dims)]) u(i) GROUP BY i),
       |cb AS (SELECT list(mn ORDER BY i) AS mins, list(mx ORDER BY i) AS maxs FROM dx),
       |q AS (SELECT vec_id,
       |    [CASE WHEN maxs[i] = mins[i] THEN 0
       |          ELSE round((v[i]-mins[i])*255/(maxs[i]-mins[i]))::BIGINT END
       |     for i in generate_series(1, $dims)] AS codes, v, mins, maxs
       |  FROM e, cb)
       |SELECT vec_id, list_sum(codes)::BIGINT AS code_sum,
       |  round(list_max([abs(v[i] - (mins[i] + codes[i]*(maxs[i]-mins[i])/255))
       |    for i in generate_series(1, $dims)]), 6) AS max_abs_err
       |FROM q ORDER BY vec_id""".stripMargin
}
