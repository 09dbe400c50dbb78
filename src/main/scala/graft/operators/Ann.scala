package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`, north-star scope): brute-force cosine top-k as the
  * exact baseline, and a random-hyperplane LSH bucketed variant as the
  * scale path.
  *
  * FP-parity design: cosine is computed as a SEQUENTIAL left fold over
  * double-cast components (`aggregate(zip_with(...))`), which DuckDB
  * mirrors with `list_reduce(list_transform(...))` — same operand order,
  * same IEEE doubles, so similarity values and therefore top-k ranking
  * hash-match the oracle exactly (an unordered SUM would not: FP addition
  * is not associative).
  *
  * Scale: brute force is O(|Q|·N·d) — fine for a bounded query set against
  * a broadcast corpus, unusable all-pairs at 100 TB. The LSH path buckets
  * vectors by [[LshBits]] hyperplane sign bits (deterministic seeded
  * planes) and searches only matching buckets (multi-probe: Hamming<=2
  * flips), turning the search into an equi-join on bucket id.
  */
object Ann {

  val Dim = 64

  /** 8 sign bits + Hamming<=2 multi-probe: measured recall@5 ~0.6-0.7 on
    * the synthetic embeddings (AnnSpec reports it); more bits sharpen
    * buckets but starve recall on small corpora.
    */
  val LshBits = 8

  /** Elementwise float→double widening via the built-in array Cast (exact,
    * and codegen'd — a `transform(_.cast)` HOF here would be
    * CodegenFallback and break whole-stage codegen for every projection
    * it collapses into).
    */
  private def toDouble(c: Column): Column = c.cast("array<double>")

  private def dist2(a: Seq[Double], b: Seq[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Deterministic farthest-point seed selection over an (id-ordered)
    * pool — the k-means++-style init both trainers share ([[trainIvf]]
    * applies a unit-normalize `prep`, [[trainPq]] the identity).
    */
  private def farthestPointSeeds(pool: Array[Seq[Double]], k: Int,
      prep: Seq[Double] => Seq[Double]): Array[Seq[Double]] = {
    val seeds = scala.collection.mutable.ArrayBuffer(prep(pool(0)))
    while (seeds.length < math.min(k, pool.length)) {
      seeds += prep(pool.maxBy(v => seeds.map(s => dist2(prep(v), s)).min))
    }
    seeds.toArray
  }

  /** Sequential-fold dot product — a native codegen kernel
    * ([[graft.functions.DotProduct]]), bit-identical to the
    * `aggregate(zip_with(...))` fold it replaces (same left-fold order,
    * same IEEE doubles), so oracle hash-parity is preserved while the
    * O(|Q|·N·d) scorer stays inside WholeStageCodegen instead of an
    * interpreted higher-order-function fallback.
    */
  private def dot(a: Column, b: Column): Column =
    graft.functions.dot_product(a, b)

  /** Adds emb_d (double array) and norm columns. */
  def withNorm(df: DataFrame, embCol: String): DataFrame = {
    val d = toDouble(col(embCol))
    df.withColumn("emb_d", d)
      .withColumn("norm", sqrt(dot(col("emb_d"), col("emb_d"))))
  }

  /** Exact cosine top-k: for each query vector (filter on the id column),
    * the k most similar corpus vectors (self included, sim=1 rank 1), with
    * deterministic (sim DESC, vec_id ASC) tie-break.
    */
  def cosineTopK(emb: DataFrame, idCol: String, embCol: String,
                 queryPred: Column, k: Int): DataFrame = {
    val corpus = withNorm(emb, embCol)
      .select(col(idCol).as("vec_id"), col("emb_d"), col("norm"))
    val queries = corpus.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("emb_d").as("q_emb"),
        col("norm").as("q_norm"))
    val scored = broadcast(queries).crossJoin(corpus)
      .select(col("query_id"), col("vec_id"),
        (dot(col("q_emb"), col("emb_d")) / (col("q_norm") * col("norm"))).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "vec_id", "sim")
  }

  /** Deterministic ±1 hyperplanes (seeded; public knowledge: random signed
    * projections preserve cosine — Charikar'02 SimHash for vectors).
    */
  private def mkPlanes(seed: Int): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(LshBits, Dim)(if (rnd.nextBoolean()) 1.0 else -1.0)
  }

  private[graft] val planes: Seq[Seq[Double]] = mkPlanes(42)

  /** Seed-variant plane table `t` — table 0 IS [[planes]], so every
    * single-table caller (and its oracle hash) is unchanged; tables 1+ are
    * independent draws that [[stackedDupPairs]] unions for recall.
    */
  private[graft] def planesFor(t: Int): Seq[Seq[Double]] =
    if (t == 0) planes else mkPlanes(42 + t)

  /** LSH bucket id: bit p = sign of the projection onto plane p. */
  def bucketId(embD: Column): Column = bucketIdFor(embD, 0)

  /** Bucket id under seed-variant plane table `t`. */
  def bucketIdFor(embD: Column, t: Int): Column =
    planesFor(t).zipWithIndex.map { case (pl, p) =>
      val plLit = array(pl.map(lit): _*)
      when(dot(embD, plLit) >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** IVF (inverted-file) index: a coarse k-means quantizer over the corpus,
    * then search only the `nProbe` clusters nearest to each query — the
    * classic embedding-scale ANN layout (cells ~ sqrt(N) keeps both the
    * assign step and the probe step sublinear in corpus size).
    *
    * Pure DataFrame Lloyd iterations (spherical k-means: unit centroids,
    * so plain-dot argmax is the cosine argmax): assign = broadcast the
    * (small) centroid set and argmax per vector; update = groupBy centroid
    * id, elementwise mean via posexplode + avg, renormalized.
    * Deterministic: farthest-point seeds from an id-ordered pool, fixed
    * iteration count. Defaults (16 cells, 8 probes) give recall@5 ~0.86 on
    * the weakly-clustered synthetic embeddings (AnnSpec floor 0.8);
    * real embedding corpora cluster harder, so nCells ~ sqrt(N) with a
    * smaller probe fraction is the production setting.
    */
  def ivfTopK(emb: DataFrame, idCol: String, embCol: String,
              queryPred: Column, k: Int, nCells: Int = 16,
              nProbe: Int = 8, iters: Int = 5): DataFrame = {
    val model = trainIvf(emb, idCol, embCol, nCells, iters)
    ivfSearch(emb, idCol, embCol, model, queryPred, k, nProbe)
  }

  /** Trained IVF index: the (tiny — nCells x Dim doubles) centroid set.
    * Train ONCE per corpus snapshot and reuse across query batches
    * ([[ivfSearch]]) — a production ANN serves many query sets against
    * one index build; retraining per batch ([[ivfTopK]]'s convenience
    * form) only makes sense for one-shot jobs. Serializable driver state,
    * so callers can persist it between pipeline runs.
    */
  final case class IvfModel(centroids: Array[(Int, Seq[Double])])

  /** Spherical k-means training — see [[ivfTopK]]'s Scaladoc for the
    * assignment/update shapes and determinism argument.
    */
  def trainIvf(emb: DataFrame, idCol: String, embCol: String,
               nCells: Int = 16, iters: Int = 5): IvfModel = {
    val corpus = withNorm(emb, embCol)
      .select(col(idCol).as("vec_id"), col("emb_d"), col("norm"))
      .cache()

    // ---- seed: deterministic farthest-point init (k-means++-style) over a
    // small HASH-ordered pool — spreads seeds across the space instead of
    // taking the first k vectors, which clumps centroids and starves
    // recall. Hash order (not id order) matters at corpus scale: ids are
    // assigned by source/crawl order, so "lowest ids" can be one
    // source/domain and the pool would sample a single mode of the
    // distribution; xxhash64 gives a deterministic uniform draw instead.
    // Pool is 8x nCells vectors: tiny driver state at any scale.
    val pool: Array[Seq[Double]] = corpus
      .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(nCells * 8)
      .select(col("emb_d")).collect().map(_.getSeq[Double](0))
    require(pool.nonEmpty,
      "trainIvf needs a non-empty corpus (no vectors to seed centroids from)")
    // Spherical k-means: centroids live on the unit sphere, so the argmax
    // of plain dot(v, c) IS the cosine argmax — without this, assignment
    // is biased toward long centroids and cell quality (=> recall) drops.
    def unit(v: Seq[Double]): Seq[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) v else v.map(_ / n)
    }
    var centroids: Array[(Int, Seq[Double])] =
      farthestPointSeeds(pool, nCells, unit)
        .zipWithIndex.map { case (v, i) => (i, v) }.toArray

    // ---- train: Lloyd's on normalized vectors (cosine ~ dot on unit-ish)

    for (_ <- 1 to iters) {
      val means = assignedOver(corpus, centroids)
        .select(col("cell"), posexplode(col("emb_d")).as(Seq("pos", "x")))
        .groupBy("cell", "pos").agg(avg("x").as("m"))
        .groupBy("cell").agg(map_from_arrays(
          collect_list(col("pos")), collect_list(col("m"))).as("mm"))
        .collect()
      val updated = means.map { r =>
        val mm = r.getMap[Int, Double](1)
        // cell is BIGINT (the shared withCell definition)
        (r.getLong(0).toInt, unit((0 until Dim).map(i => mm.getOrElse(i, 0.0))))
      }
      // keep unassigned (empty) cells' previous centroid
      val byId = updated.toMap
      centroids = centroids.map { case (cid, v) => (cid, byId.getOrElse(cid, v)) }
    }

    // The cache served the training loop's repeated actions; release it so
    // cached blocks don't linger into later queries on a shared session.
    // The search plan recomputes corpus from the (pruned) scan — which is
    // also the only viable shape at 100 TB.
    corpus.unpersist()
    IvfModel(centroids)
  }

  /** The (small) centroid set as a literal array-of-structs column. */
  private def centLit(cs: Array[(Int, Seq[Double])]): Column =
    array(cs.map { case (cid, v) =>
      struct(lit(cid).as("cid"), array(v.map(lit): _*).as("cv"))
    }: _*)

  /** Cell assignment in the (vec_id, cell, emb_d) shape training and
    * IVF search consume — a projection over [[withCell]], the ONE
    * argmax definition (round-17 review: a third inline copy of the
    * argmax had appeared; cell semantics drifting between publish-time
    * routing and serve-time probing directly costs recall).
    */
  private def assignedOver(corpus: DataFrame,
                           cs: Array[(Int, Seq[Double])]): DataFrame =
    withCell(corpus, cs)
      .select(col("vec_id"), col("cell"), col("emb_d"))

  /** Probe-and-verify search against a trained [[IvfModel]]. */
  def ivfSearch(emb: DataFrame, idCol: String, embCol: String,
                model: IvfModel, queryPred: Column, k: Int,
                nProbe: Int = 8): DataFrame = {
    val centroids = model.centroids
    val corpus = withNorm(emb, embCol)
      .select(col(idCol).as("vec_id"), col("emb_d"), col("norm"))

    // ---- search: probe the nProbe best cells per query
    val cells = assignedOver(corpus, centroids)
    val indexed = corpus.join(cells.select("vec_id", "cell"), "vec_id")
    val queries = corpus.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("emb_d").as("q_emb"),
        col("norm").as("q_norm"))
      .withColumn("__c", explode(centLit(centroids)))
      .withColumn("__score", dot(col("q_emb"), col("__c.cv")) / col("q_norm"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("__score").desc, col("__c.cid"))))
      .filter(col("__rn") <= nProbe)
      // cast the probe side to BIGINT so the cell join is cast-free on
      // BOTH sides (the readCodeIndex convention the other cell joins —
      // sq8SearchByCell, pqSearchWith — already follow): the corpus side
      // carries withCell's BIGINT cell, and an implicit cast on a join
      // key is exactly what the repo's cast-free-join-key rule forbids
      .select(col("query_id"), col("q_emb"), col("q_norm"),
        col("__c.cid").cast("long").as("cell"))
    val scored = broadcast(queries).join(indexed, "cell")
      .select(col("query_id"), col("vec_id"),
        (dot(col("q_emb"), col("emb_d")) / (col("q_norm") * col("norm"))).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "vec_id", "sim")
  }

  /** Embedding-cosine near-duplicate pairs (id_a < id_b, sim >= threshold):
    * candidates are vectors sharing the full [[LshBits]]-bit hyperplane
    * bucket (an equi-join — shuffle linear in corpus size, never an n²
    * score matrix), verified with the exact sequential-fold cosine on the
    * candidate set only. The same candidates-then-verify shape as MinHash
    * banding: recall comes from near-parallel vectors agreeing on sign
    * bits with probability (1 - θ/π) per bit, so true near-dups
    * (cos >= ~0.9, θ <= 26°) survive the 8-bit bucket with p >= ~0.27 per
    * table — production stacks several plane tables (seed variants) the
    * way MinHash stacks bands; one table keeps the oracle tractable here.
    */
  def cosineDupPairs(emb: DataFrame, idCol: String, embCol: String,
                     threshold: Double): DataFrame = {
    val corpus = withNorm(emb, embCol)
      .select(col(idCol).as("id"), col("emb_d"), col("norm"),
        bucketId(col("emb_d")).as("bucket"))
    // no join hint: corpus has real source stats, so Catalyst broadcasts
    // a small side and falls back to a partitioned hash join at scale.
    corpus.as("a").join(corpus.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (dot(col("a.emb_d"), col("b.emb_d")) /
          (col("a.norm") * col("b.norm"))).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** [[cosineDupPairs]] with STACKED seed-variant plane tables — the
    * recall lever the single-table variant's Scaladoc points at: a true
    * near-dup pair survives a table with p = (1 - θ/π)^[[LshBits]], so
    * stacking T independent tables lifts recall to 1 - (1-p)^T exactly the
    * way MinHash stacks bands (for cos 0.9: p ≈ 0.27 per 8-bit table,
    * ≈ 0.61 at T = 3). Same output contract as [[cosineDupPairs]]
    * (id_a < id_b, sim >= threshold); T = 1 is bit-identical to it.
    *
    * Scale shape: per-table buckets posexplode to (table, bucket) postings
    * — the MinHash band layout — so candidates stay an equi-join, shuffle
    * linear in T·N; `distinct` collapses multi-table hits BEFORE the two
    * verify joins, so each surviving pair is scored once.
    */
  def stackedDupPairs(emb: DataFrame, idCol: String, embCol: String,
                      threshold: Double, nTables: Int = 3): DataFrame = {
    require(nTables >= 1, s"nTables must be >= 1, got $nTables " +
      "(0 tables would silently emit zero candidates)")
    val c = withNorm(emb, embCol)
      .select(col(idCol).as("id"), col("emb_d"), col("norm"))
    val tb = c.select(col("id"), posexplode(array(
        (0 until nTables).map(t => bucketIdFor(col("emb_d"), t)): _*))
      .as(Seq("tbl", "bucket")))
    val cands = tb.as("a").join(tb.as("b"),
        col("a.tbl") === col("b.tbl") &&
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cands
      .join(c.as("sa"), col("id_a") === col("sa.id"))
      .join(c.as("sb"), col("id_b") === col("sb.id"))
      .select(col("id_a"), col("id_b"),
        (dot(col("sa.emb_d"), col("sb.emb_d")) /
          (col("sa.norm") * col("sb.norm"))).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Hard-negative mining for contrastive / embedding-model training:
    * per query vector, the top-k corpus vectors in the similarity band
    * [simLo, simHi) — close enough to be informative negatives, below
    * the near-duplicate bar so they are not accidental positives (the
    * standard "hard negatives, dedup-filtered" recipe; simHi should
    * match the corpus's dedup threshold so anything above it is handled
    * by the dedup pipeline, not the training pairs).
    *
    * Scale shape: candidates come from the same stacked hyperplane
    * (table, bucket) equi-join as [[stackedDupPairs]] — query side
    * filtered first, so the join is queries x bucket-mates, never
    * corpus x corpus; exact cosine verifies only candidates; top-k is a
    * bounded per-query window. Recall caveat inherited from the LSH
    * family: sign-bit buckets are tuned for NEAR vectors, so band
    * recall decays toward simLo — raise nTables (or probe distance) the
    * same way the recall audits measure-then-trust the dup path.
    *
    * Output: (query_id, rank, vec_id, sim), rank by (sim DESC, vec_id).
    */
  def hardNegatives(emb: DataFrame, idCol: String, embCol: String,
                    queryPred: Column, k: Int, simLo: Double, simHi: Double,
                    nTables: Int = 3): DataFrame = {
    require(simLo < simHi, s"need simLo < simHi, got [$simLo, $simHi)")
    require(nTables >= 1, s"nTables must be >= 1, got $nTables")
    val c = withNorm(emb, embCol)
      .select(col(idCol).as("id"), col("emb_d"), col("norm"))
    def buckets(df: DataFrame): DataFrame =
      df.select(col("id"), col("emb_d"), col("norm"), posexplode(array(
          (0 until nTables).map(t => bucketIdFor(col("emb_d"), t)): _*))
        .as(Seq("tbl", "bucket")))
    val qb = buckets(c.filter(queryPred))
      .select(col("id").as("query_id"), col("emb_d").as("q_emb"),
        col("norm").as("q_norm"), col("tbl"), col("bucket"))
    val cand = broadcast(qb).join(buckets(c), Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("id"))
      .select(col("query_id"), col("q_emb"), col("q_norm"),
        col("id").as("vec_id"), col("emb_d"), col("norm"))
      .dropDuplicates("query_id", "vec_id")
      .withColumn("sim",
        dot(col("q_emb"), col("emb_d")) / (col("q_norm") * col("norm")))
      .filter(col("sim") >= simLo && col("sim") < simHi)
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id"))
    cand.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "vec_id", "sim")
  }

  /** Recall audit for the stacked-table embedding candidate generator —
    * the embedding twin of [[NearDup.lshRecallEval]]: recall of
    * [[stackedDupPairs]]' (table, bucket) candidates against the EXACT
    * cosine ground truth at `threshold`, reduced to one audit row
    * (n_true, n_caught, recall). The sample-tier-then-trust workflow: the
    * exact side is all-pairs, so `samplePred` bounds the audit to a
    * deterministic sample (the API makes the bound explicit — this is the
    * ONE deliberate n² in the embedding family, on the sample only); the
    * plane-table count is tuned until recall clears the bar, then only
    * the bucketed path runs on the full corpus.
    */
  def embeddingRecallEval(emb: DataFrame, idCol: String, embCol: String,
                          samplePred: Column, threshold: Double,
                          nTables: Int = 3): DataFrame = {
    require(nTables >= 1, s"nTables must be >= 1, got $nTables " +
      "(0 tables would silently report zero recall)")
    val c = withNorm(emb.filter(samplePred), embCol)
      .select(col(idCol).as("id"), col("emb_d"), col("norm"))
    val truth = c.as("a").join(c.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (dot(col("a.emb_d"), col("b.emb_d")) /
          (col("a.norm") * col("b.norm"))).as("sim"))
      .filter(col("sim") >= threshold)
      .select("id_a", "id_b")
    val tb = c.select(col("id"), posexplode(array(
        (0 until nTables).map(t => bucketIdFor(col("emb_d"), t)): _*))
      .as(Seq("tbl", "bucket")))
    val cands = tb.as("a").join(tb.as("b"),
        col("a.tbl") === col("b.tbl") &&
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
      .withColumn("hit", lit(1L))
    truth.join(cands, Seq("id_a", "id_b"), "left")
      .agg(count(lit(1)).as("n_true"),
        coalesce(sum("hit"), lit(0L)).as("n_caught"))
      .select(col("n_true"), col("n_caught"),
        when(col("n_true") > 0,
          col("n_caught").cast("double") / col("n_true")).as("recall"))
  }

  /** End-to-end embedding-space corpus dedup — the semantic twin of
    * [[NearDup.dedupByNearDup]]: cosine near-dup pairs (hyperplane-bucket
    * candidates, exact verify) → connected components → canonical
    * (minimum) vec id per cluster. Every vector comes back with its
    * cluster id and keeper flag; filter is_canonical to materialize the
    * semantically-deduped corpus. Same scale posture as its parts: bucket
    * equi-join candidates (never n²), large/small-star CC rounds.
    */
  def dedupByCosine(emb: DataFrame, idCol: String, embCol: String,
                    threshold: Double): DataFrame = {
    val pairs = cosineDupPairs(emb, idCol, embCol, threshold)
    val comps = ConnectedComponents.run(
      emb.select(col(idCol).as("id")),
      pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
    comps.select(col("id").as(idCol), col("component"),
      (col("id") === col("component")).as("is_canonical"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540)
    * against a FROZEN quantizer — the published cluster-then-prune recipe,
    * a different candidate generator from [[dedupByCosine]]'s hyperplane
    * buckets: assign every vector to its spherical-k-means cell (the same
    * argmax as [[ivfSearch]]), order each cell by similarity-to-centroid
    * ascending (the paper keeps the LOWEST-centroid-sim member of a
    * duplicate group) with vec_id tie-break, and drop a vector iff some
    * EARLIER cell-mate is >= `threshold` cosine-similar — the paper's
    * upper-triangular max-sim rule, which needs no iteration here: it is
    * a within-cell theta-join plus a distinct/left-join marker.
    *
    * Scale shape: the quadratic is confined to a cell — the SemDeDup cost
    * model (the paper runs 50k cells for 100M docs, keeping cells in the
    * thousands; nCells grows with the corpus, so per-cell pair counts stay
    * bounded). Cell assignment is a pure codegen projection over literal
    * centroids (no shuffle); the pair join is an equi-join on cell.
    *
    * Output: one row per vector — (vec_id, cell, cent_sim, is_kept).
    */
  def semanticDedup(emb: DataFrame, idCol: String, embCol: String,
                    model: IvfModel, threshold: Double): DataFrame = {
    val corpus = withNorm(emb, embCol)
      .select(col(idCol).as("vec_id"), col("emb_d"), col("norm"))
    // assignedOver's greatest-over-structs argmax, keeping the winning
    // score: cent_sim doubles as the paper's keep-order key, so deriving
    // it from the SAME struct as the cell keeps the two consistent by
    // construction.
    val scored = model.centroids.map { case (cid, v) =>
      struct((dot(col("emb_d"), array(v.map(lit): _*)) / col("norm")).as("score"),
        lit(-cid).as("ncid"))
    }
    val best = if (scored.length == 1) scored.head else greatest(scored: _*)
    val asg = corpus.withColumn("__b", best)
      .select(col("vec_id"), (-col("__b.ncid")).cast("long").as("cell"),
        col("__b.score").as("cent_sim"), col("emb_d"), col("norm"))
    val a = asg.select(col("vec_id").as("id_a"), col("cell"),
      col("cent_sim").as("cs_a"), col("emb_d").as("ea"), col("norm").as("na"))
    val b = asg.select(col("vec_id").as("id_b"), col("cell"),
      col("cent_sim").as("cs_b"), col("emb_d").as("eb"), col("norm").as("nb"))
    val dominated = a.join(b, Seq("cell"))
      .filter(col("cs_a") < col("cs_b") ||
        (col("cs_a") === col("cs_b") && col("id_a") < col("id_b")))
      .filter(dot(col("ea"), col("eb")) / (col("na") * col("nb")) >= threshold)
      .select(col("id_b").as("vec_id")).distinct()
      .withColumn("__dup", lit(true))
    asg.join(dominated, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("cent_sim"),
        col("__dup").isNull.as("is_kept"))
  }

  /** Semantic (embedding-space) decontamination — the similarity twin of
    * the exact 13-gram and winnowing contamination tiers: flag every
    * corpus vector whose cosine to ANY eval-set vector reaches
    * `threshold`. Paraphrased benchmark leakage survives n-gram checks
    * (no 13-gram overlap) but not an embedding check, so production
    * pipelines run both; this completes the pair.
    *
    * Output: one row per CORPUS vector — (vec_id, n_hits, max_sim,
    * top_eval_id, contaminated). A clean vector keeps n_hits = 0 and null
    * sim/eval id (LEFT join: decontamination must never silently drop the
    * clean rows it exists to keep). top_eval_id is the best-matching eval
    * vector (ties: lowest id) — the audit column a removal decision cites.
    *
    * Scale shape: candidates are hyperplane-bucket equi-join matches over
    * `nTables` stacked seed-variant tables as (table, bucket) postings
    * ([[bucketIdFor]], never |corpus|×|eval| scoring; multi-table hits
    * collapse via distinct before verify), exact-verified with the codegen
    * dot kernel; the eval side (a benchmark suite — thousands of rows, not
    * billions) carries real stats, so Catalyst broadcasts it unhinted and
    * the corpus side stays a linear scan. Per-vector window and aggregate
    * share one `vec_id` shuffle. Per-table recall follows the
    * [[cosineDupPairs]] analysis; `nTables` = 3 is [[stackedDupPairs]]'s
    * production configuration — a missed leaked pair costs a benchmark,
    * so decontamination wants the high-recall setting even more than
    * dedup does.
    */
  def semanticContamination(corpus: DataFrame, evalSet: DataFrame,
                            idCol: String, embCol: String,
                            threshold: Double, nTables: Int = 1): DataFrame = {
    require(nTables >= 1, s"nTables must be >= 1, got $nTables " +
      "(0 tables would silently mark every vector clean)")
    val c = withNorm(corpus, embCol)
      .select(col(idCol).as("vec_id"), col("emb_d"), col("norm"))
    val e = withNorm(evalSet, embCol)
      .select(col(idCol).as("eval_id"), col("emb_d").as("emb_e"),
        col("norm").as("norm_e"))
    def postings(df: DataFrame, idc: String, embc: String): DataFrame =
      df.select(col(idc), posexplode(array(
          (0 until nTables).map(t => bucketIdFor(col(embc), t)): _*))
        .as(Seq("tbl", "bucket")))
    val cands = postings(c, "vec_id", "emb_d")
      .join(postings(e, "eval_id", "emb_e"), Seq("tbl", "bucket"))
      .select("vec_id", "eval_id").distinct()
    val hits = cands.join(c, Seq("vec_id")).join(e, Seq("eval_id"))
      .select(col("vec_id"), col("eval_id"),
        (dot(col("emb_d"), col("emb_e")) /
          (col("norm") * col("norm_e"))).as("sim"))
      .filter(col("sim") >= threshold)
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("sim").desc, col("eval_id"))
    val agg = hits.withColumn("_rk", row_number().over(w))
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_hits"), max(col("sim")).as("max_sim"),
        max(when(col("_rk") === 1, col("eval_id"))).as("top_eval_id"))
    corpus.select(col(idCol).as("vec_id"))
      .join(agg, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        col("max_sim"), col("top_eval_id"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** Bucketed approximate top-k: candidates share the query's bucket or any
    * bucket within Hamming distance 2 (multi-probe), scored exactly, top-k
    * per query. Same output shape as [[cosineTopK]]; recall is measured in
    * AnnSpec against the exact baseline.
    */
  def lshTopK(emb: DataFrame, idCol: String, embCol: String,
              queryPred: Column, k: Int): DataFrame = {
    val corpus = withNorm(emb, embCol)
      .select(col(idCol).as("vec_id"), col("emb_d"), col("norm"),
        bucketId(col("emb_d")).as("bucket"))
    // multi-probe: the query's own bucket plus all buckets within Hamming
    // distance 2 (single- and double-bit flips)
    val probes = (col("bucket") +:
      (0 until LshBits).map(b => col("bucket").bitwiseXOR(lit(1L << b)))) ++
      (for (i <- 0 until LshBits; j <- i + 1 until LshBits)
        yield col("bucket").bitwiseXOR(lit((1L << i) | (1L << j))))
    val queries = corpus.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("emb_d").as("q_emb"),
        col("norm").as("q_norm"), explode(array(probes: _*)).as("bucket"))
    val scored = queries.join(corpus, "bucket")
      .select(col("query_id"), col("vec_id"),
        (dot(col("q_emb"), col("emb_d")) / (col("q_norm") * col("norm"))).as("sim"))
      .dropDuplicates("query_id", "vec_id")
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "vec_id", "sim")
  }

  /** Embedding-quality evaluation: k-NN majority-vote label prediction
    * scored against the ground-truth label column — the standard intrinsic
    * check that an embedding space (or an index over it) actually encodes
    * the classes it claims to. Per query: the k nearest non-self
    * neighbors vote by label (ties → smaller label); output is per-class
    * (n_queries, n_correct).
    *
    * Built on [[cosineTopK]] with k+1 then self-exclusion, so it inherits
    * the exact FP-parity scorer — the whole evaluation is deterministic
    * and DuckDB-oracle-able end to end. Swap in [[lshTopK]]/[[ivfSearch]]
    * candidates to measure an index's end-task cost instead of recall.
    */
  def knnLabelEval(emb: DataFrame, idCol: String, embCol: String,
                   labelCol: String, queryPred: Column, k: Int): DataFrame = {
    val neighbors = cosineTopK(emb, idCol, embCol, queryPred, k + 1)
      .filter(col("vec_id") =!= col("query_id"))
    val wn = Window.partitionBy("query_id").orderBy(col("rank"))
    val topk = neighbors.withColumn("nrank", row_number().over(wn))
      .filter(col("nrank") <= k)
    val labels = emb.select(col(idCol).as("vec_id"), col(labelCol).as("nbr_label"))
    val votes = topk.join(labels, "vec_id")
      .groupBy(col("query_id"), col("nbr_label"))
      .agg(count(lit(1)).as("n_votes"))
    val wv = Window.partitionBy("query_id")
      .orderBy(col("n_votes").desc, col("nbr_label"))
    val pred = votes.withColumn("r", row_number().over(wv))
      .filter(col("r") === 1)
      .select(col("query_id"), col("nbr_label").as("pred_label"))
    val truth = emb.select(col(idCol).as("query_id"), col(labelCol).as("true_label"))
    pred.join(truth, "query_id")
      .groupBy(col("true_label"))
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("pred_label") === col("true_label"), 1L).otherwise(0L))
          .as("n_correct"))
  }

  /** Per-label embedding centroids (class prototypes): one output row per
    * (label, dimension) with the component sum and member count — the
    * building block for prototype classifiers, cluster drift monitors, and
    * per-class retrieval anchors.
    *
    * posexplode + hash-aggregate: fully map-side combinable, shuffles
    * labels·dim partial rows, never the vectors themselves. Component sums
    * are fixed-point (round(x·10⁶) as BIGINT): double accumulation order
    * varies with partitioning, so an FP sum is nondeterministic across
    * re-runs/engines — integer micro-units make the aggregate exact,
    * deterministic at any parallelism, and DuckDB-oracle-able (same
    * contract as the cents columns elsewhere). Consumers divide
    * `sum_scaled / (1e6 · n)` for the mean.
    */
  def labelCentroids(emb: DataFrame, labelCol: String, embCol: String): DataFrame =
    emb.select(col(labelCol).as("label"),
        posexplode(col(embCol).cast("array<double>")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos").cast("long").as("pos"))
      .agg(sum(expr("CAST(round(x * 1000000) AS BIGINT)")).as("sum_scaled"),
        count(lit(1)).as("n"))

  /** Per-dimension embedding-QA profile: n / sum / sum-of-squares / min /
    * max for every vector position — the screen for dead dimensions
    * (constant values), scale drift between embedding batches, and
    * outlier coordinates, run before any ANN index build. Same
    * fixed-point trick as [[labelCentroids]]: micro-scaled (and, for the
    * squares, milli-scaled — their product is micro²-scaled) BIGINT sums
    * make the result independent of FP accumulation order, hence
    * engine-exact and deterministic at any parallelism; the consumer
    * derives mean/variance from the integers on its own FP terms.
    *
    * Scale shape: posexplode fans rows out by the dimension count, but
    * the aggregate is map-side combinable into at most `dim` groups per
    * partition, so the shuffle carries KBs regardless of corpus size.
    */
  def dimStats(emb: DataFrame, embCol: String): DataFrame =
    emb.select(posexplode(col(embCol).cast("array<double>")).as(Seq("pos", "x")))
      .groupBy(col("pos").cast("long").as("pos"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(x * 1000000) AS BIGINT)")).as("sum_scaled"),
        sum(expr("CAST(round(x * 1000) AS BIGINT) * CAST(round(x * 1000) AS BIGINT)"))
          .as("sumsq_scaled"),
        min(expr("CAST(round(x * 1000000) AS BIGINT)")).as("min_scaled"),
        max(expr("CAST(round(x * 1000000) AS BIGINT)")).as("max_scaled"))

  // ---- Product quantization (Jégou et al. 2011 — the compressed-domain
  // ANN layout at 100 TB: vectors live as m small code ids, queries scan
  // codes with a per-query lookup table instead of touching raw floats).

  /** Trained PQ codebooks: `codebooks(j)` is the (code, codeword) set for
    * subspace j over dims [j·subDim, (j+1)·subDim). Like [[IvfModel]]:
    * train once per corpus snapshot ([[trainPq]] / FreezePq), serve many
    * encode/search batches — tiny serializable driver state
    * (m · ks · subDim doubles).
    */
  final case class PqModel(subDim: Int, codebooks: Array[Array[(Int, Seq[Double])]]) {
    def m: Int = codebooks.length
  }

  /** Squared L2 between a sub-vector column and a literal codeword, as
    * the left-fold sum of per-component squared diffs — bit-identical
    * to the zip_with-diff + sequential-[[dot]] spelling it replaces
    * (same per-element subtraction, same left-to-right addition order;
    * 0 + x == x exactly, and recomputing a diff inside its own square
    * reproduces the identical rounded value), hence engine-exact
    * against the DuckDB list_reduce mirror. Spelled with element_at and
    * plain arithmetic instead of HOFs because zip_with/aggregate are
    * CodegenFallback — the interpreted form measured ~10x slower on the
    * m·ks-wide encode/LUT projections.
    */
  private def d2Lit(sub: Column, v: Seq[Double]): Column =
    v.indices.map { i =>
      val e = element_at(sub, i + 1) - lit(v(i))
      e * e
    }.reduce(_ + _)

  /** [[d2Lit]] with the codeword as a COLUMN (the broadcast codeword
    * meta-table form of the ADC LUT build) — same FP sequence.
    */
  private def d2Col(sub: Column, w: Column, subDim: Int): Column =
    (1 to subDim).map { i =>
      val e = element_at(sub, i) - element_at(w, i)
      e * e
    }.reduce(_ + _)

  private def subSlice(j: Int, subDim: Int): Column =
    slice(col("emb_d"), j * subDim + 1, subDim)

  /** The vector set PQ quantizes: raw double vectors, or — given a coarse
    * quantizer — IVF-CELL RESIDUALS v − centroid(cell(v)), the FAISS
    * IVFPQ layout (Jégou et al. 2011 §IV-A: residuals have far smaller
    * spread than raw vectors, so the same codebook budget quantizes them
    * with much less distortion; measured on the frozen fixtures the
    * recall@5 audit moves from 0.40 raw to ≥0.8 residual). Cell
    * assignment is the ONE [[assignedOver]] argmax (score DESC, cid
    * tie-break) shared with IVF search — a pure codegen projection over
    * literal centroids; the winning struct carries its centroid vector so
    * the residual subtraction needs no lookup join (struct comparison is
    * lexicographic and (score, ncid) is unique, so the cv field never
    * decides the argmax). Output: (vec_id, emb_d) raw; (vec_id, cell,
    * emb_d) residual — emb_d IS the residual downstream.
    */
  private[graft] def pqCorpus(emb: DataFrame, idCol: String,
                              embCol: String,
                              coarse: Option[IvfModel]): DataFrame = coarse match {
    case None =>
      emb.withColumn("emb_d", toDouble(col(embCol)))
        .select(col(idCol).as("vec_id"), col("emb_d"))
    case Some(ivf) =>
      val base = withNorm(emb, embCol)
        .select(col(idCol).as("vec_id"), col("emb_d"), col("norm"))
      val scored = ivf.centroids.map { case (cid, v) =>
        val cv = array(v.map(lit): _*)
        struct((dot(col("emb_d"), cv) / col("norm")).as("score"),
          lit(-cid.toLong).as("ncid"), cv.as("cv"))
      }
      val best = if (scored.length == 1) scored.head else greatest(scored: _*)
      base.withColumn("__b", best)
        .select(col("vec_id"), (-col("__b.ncid")).as("cell"),
          zip_with(col("emb_d"), col("__b.cv"), (x, y) => x - y).as("emb_d"))
  }

  /** The (j, c, w) codeword meta table — m·ks driver rows, the
    * broadcast side of the ADC LUT build.
    */
  private def codeMeta(spark: org.apache.spark.sql.SparkSession,
                       model: PqModel): DataFrame = {
    val rows = for {
      j <- 0 until model.m
      (cid, w) <- model.codebooks(j)
    } yield (j, cid.toLong, w)
    spark.createDataFrame(rows).toDF("j", "c", "w")
  }

  /** Per-vector key columns of every code table: vec_id, plus the coarse
    * cell in residual mode.
    */
  private def pqKeys(coarse: Option[IvfModel]): Seq[Column] =
    col("vec_id") +: (if (coarse.isDefined) Seq(col("cell")) else Nil)

  /** PQ codes as arrays — (vec_id[, cell], codes), one row per vector,
    * `codes` the m per-subspace argmin code ids (squared L2, ties to the
    * lower code id) from the [[graft.functions.pq_codes]] kernel: one
    * loop per vector over the frozen codebooks, no codeword join and no
    * aggregate. The kernel only sees `emb_d`, so raw and IVF-residual
    * modes share it.
    */
  private def pqCodeArrays(emb: DataFrame, idCol: String, embCol: String,
                           model: PqModel,
                           coarse: Option[IvfModel]): DataFrame = {
    // explicit partition count: AQE sizes the exchange by its INPUT
    // bytes (a few KB of raw vectors) and would coalesce to one
    // partition, running the |corpus| × m·ks distance loop
    // single-threaded; a user-specified count is exempt from AQE
    // coalescing. It also fixes the file count of every publish and
    // append, and it is the Exchange barrier that keeps the residual/
    // cell projection out of the kernel's stage.
    val nPart = emb.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    pqCorpus(emb, idCol, embCol, coarse)
      .repartition(nPart, col("vec_id"))
      .select(pqKeys(coarse) :+ graft.functions.pq_codes(col("emb_d"), model)
        .as("codes"): _*)
  }

  /** Long-form PQ codes — (vec_id[, cell], j, c), one row per (vector,
    * subspace): [[pqCodeArrays]] posexploded, the layout the standing
    * code index stores and the ADC join probes. `posexplode_outer` on
    * purpose: the code array is never null or empty, so the rows are
    * posexplode's, but an inner generator makes the optimizer infer a
    * `size(codes) > 0` filter and push it below the repartition — the
    * kernel would then run twice, once in the un-repartitioned scan.
    */
  private[graft] def pqCodesLong(emb: DataFrame, idCol: String,
                                 embCol: String, model: PqModel,
                                 coarse: Option[IvfModel]): DataFrame =
    pqCodeArrays(emb, idCol, embCol, model, coarse)
      .select(pqKeys(coarse) :+
        posexplode_outer(col("codes")).as(Seq("j", "c")): _*)

  /** Per-subspace code assignment columns c0..c{m-1} (the wide encode
    * contract): one `element_at` per subspace over [[pqCodeArrays]]'
    * code array. With `coarse` set the codes quantize the IVF-cell
    * residual (see [[pqCorpus]]) and the output carries the coarse
    * `cell` — the (cell, codes) pair IS the compressed IVFPQ corpus
    * representation.
    */
  def pqEncode(emb: DataFrame, idCol: String, embCol: String,
               model: PqModel, coarse: Option[IvfModel] = None): DataFrame =
    pqCodeArrays(emb, idCol, embCol, model, coarse)
      .select(pqKeys(coarse) ++ (0 until model.m).map(j =>
        element_at(col("codes"), j + 1).as(s"c$j")): _*)

  /** Asymmetric-distance (ADC) top-k over PQ codes: each query computes
    * its m·ks lookup table of subspace distances to every codeword (e12
    * fixed point — BIGINT sums are order-independent, the repo FP
    * contract), then every corpus vector's approximate distance is the
    * integer sum of m table lookups joined on (subspace, code) — plus
    * the coarse cell in residual (IVFPQ) mode, where each probed cell
    * gets its own LUT built from the query's residual against THAT
    * cell's centroid.
    *
    * Scale shape: the corpus side is the (vec_id[, cell], j, code)
    * long-format code table ([[pqCodesLong]] — m small ints per vector,
    * the compression PQ exists for); the LUT is queries · nProbe · m ·
    * ks rows built by the codeword-meta cross join and broadcast
    * (bounded query batches by contract, same as the other ANN
    * searches — size nProbe accordingly); the join is a broadcast hash
    * probe (no shuffle despite few distinct join keys — key skew never
    * materializes as exchange skew), and the grouped sum is map-side
    * combinable. Output: (query_id, rank, vec_id, ad2_e12) — rank by
    * (ad2_e12 ASC, vec_id).
    */
  def pqSearch(emb: DataFrame, idCol: String, embCol: String,
               model: PqModel, queryPred: Column, k: Int,
               coarse: Option[IvfModel] = None,
               nProbe: Int = Int.MaxValue): DataFrame =
    pqSearchWith(pqCodesLong(emb, idCol, embCol, model, coarse),
      emb, idCol, embCol, model, queryPred, k, coarse, nProbe)

  /** Publish the STANDING PQ code index — write-once/serve-many on the
    * ANN tier (production IVFPQ separates index BUILD from SEARCH; the
    * convenience [[pqSearch]] fuses them, re-paying the per-vector
    * [[graft.functions.pq_codes]] encode — |corpus| × m·ks distance
    * evaluations — on every query batch). The long-format
    * (vec_id[, cell], j, c) code table lands under `dir`; plain
    * non-bucketed parquet ON PURPOSE — the ADC join probes the codes
    * with a BROADCAST lookup table, so the corpus side never shuffles
    * and a bucket layout would never be consulted (the
    * [[Winnow.writeEvalNgramIndex]] argument, from the other side: here
    * the corpus is the big side and the per-batch LUT is the broadcast).
    */
  def writePqIndex(emb: DataFrame, idCol: String, embCol: String,
                   model: PqModel, dir: String,
                   coarse: Option[IvfModel] = None): Unit =
    pqCodesLong(emb, idCol, embCol, model, coarse)
      .write.mode("overwrite").parquet(dir)

  /** [[writePqIndex]] with the codes PARTITIONED BY COARSE CELL — the
    * layout that makes the nProbe bound genuinely sublinear in I/O: in
    * the flat layout every probe-bounded serve still SCANS all codes
    * and drops unprobed cells at the LUT join ([[pqSearchWith]]), so
    * nProbe only discounts joined-row volume; under cell partitioning
    * the serve turns the batch's probed-cell union into a literal IN
    * partition filter (static pruning — see [[pqSearchWith]] for why
    * not Spark's dynamic partition pruning) and unprobed cells' FILES
    * are never read. Measured (PqServeSweep, round 14, 16-cell
    * quantizer): a single query at nProbe=8 reads 8 of 16 files and
    * 33% of the flat layout's code bytes (67% cut — half from pruning,
    * the rest from the partition column leaving the data files);
    * a 40-query diverse batch probes every cell, so its cut is the
    * compression-only 23-33% — the pruning win scales with how
    * cell-clustered the query batch is, which is the serving story a
    * 100 TB code table needs (route queries to their cells, each
    * serving task reads nProbe/nCells of the bytes). Local wall time
    * at fixture sizes is compute-bound and does NOT improve (3.9 vs
    * 3.0 s at 100k vectors — the extra probe-set collect and per-file
    * overhead outweigh KB-scale I/O savings); this layout is for
    * scan-dominated deployments, not small corpora. Other trade-offs
    * vs flat: one shuffle at publish (repartition by cell so each cell
    * lands as one file, not one per input task — the small-files
    * guard), and nCells as a files-per-append floor. Requires `coarse`
    * (no cells to partition by otherwise). Serve through the standard
    * [[pqSearchIndexed]] — the reader detects the layout.
    */
  def writePqIndexByCell(emb: DataFrame, idCol: String, embCol: String,
                         model: PqModel, dir: String,
                         coarse: IvfModel): Unit =
    StandingIndex.writeCells(
      pqCodesLong(emb, idCol, embCol, model, Some(coarse)), dir,
      "overwrite")

  /** INCREMENTAL PUBLISH for the ANN tier — the append verb the exact
    * ([[Dedup.appendKeyIndexBucketed]]), LSH
    * ([[NearDup.appendBandIndexBucketed]]) and variant
    * ([[EditDistanceJoin.appendVariantIndexBucketed]]) tiers already
    * carry: encode ONLY the day's batch and append its codes to the
    * standing [[writePqIndex]] dir, instead of re-encoding the grown
    * corpus (the |corpus| × m·ks encode the tier exists to amortize).
    * Losslessness is structural: codes are per-vector rows computed by
    * the same expressions the full writer uses, so
    * append(corpus) ∪ append(batch) = write(corpus ∪ batch) row-for-row
    * (q_pq_search_appended shares the monolithic oracle; AnnSpec pins
    * the roundtrip). Contracts: batch ids must be NEW (a re-appended
    * vector would score twice), and `model`/`coarse` must be the
    * PUBLISHED codebooks — a codebook refreeze changes every code and
    * therefore forces a full [[writePqIndex]] rebuild; there is nothing
    * incremental about it by construction.
    */
  def appendPqIndex(embBatch: DataFrame, idCol: String, embCol: String,
                    model: PqModel, dir: String,
                    coarse: Option[IvfModel] = None): Unit =
    // empty-batch stray-file guard and probe placement:
    // [[StandingIndex.appendFlat]] (AnnSpec's empty-batch case caught
    // the stray; the partitioned verbs skip empties at the pre-write
    // shuffle and need no guard)
    StandingIndex.appendFlat(embBatch,
      pqCodesLong(embBatch, idCol, embCol, model, coarse), dir)

  /** [[appendPqIndex]] for the cell-partitioned layout
    * ([[writePqIndexByCell]]): same batch-only encode, same contracts
    * (new ids; published codebooks — a refreeze rebuilds), appended
    * UNDER the cell directories so the pruning layout survives growth.
    * Each append lays down at most one file per touched cell (the
    * pre-write repartition) — after N appends a probed cell scans N
    * files, the same small-files drift every bucketed tier has; run
    * [[compactPqIndexByCellIfNeeded]] from the same nightly job, like
    * every other tier.
    */
  def appendPqIndexByCell(embBatch: DataFrame, idCol: String,
                          embCol: String, model: PqModel, dir: String,
                          coarse: IvfModel): Unit =
    StandingIndex.writeCells(
      pqCodesLong(embBatch, idCol, embCol, model, Some(coarse)), dir,
      "append")

  // Data-file walks live in [[StandingIndex]] (the one walk the byte
  // pricer, footer counters and compaction counters share, so their
  // file filters can never drift apart); local alias for brevity.
  private def listDataFiles(spark: org.apache.spark.sql.SparkSession,
                            dir: String): Seq[org.apache.hadoop.fs.Path] =
    StandingIndex.listDataFiles(spark, dir)

  /** Data-file count of the DEEPEST cell of a cell-partitioned code
    * index — the compaction-trigger signal, same shape as
    * [[graft.sources.Layout.filesPerBucket]]'s skew-honest form: appends
    * touch only the cells their batch lands in, so the deepest cell
    * (where probe-bounded serves pay the per-file overhead) can run well
    * ahead of the table-wide average. Groups data files by their
    * `cell=K` parent directory and returns the max. REJECTS a flat
    * [[writePqIndex]] dir loudly (all files would share the root parent,
    * so the "deepest cell" would be the total file count and the
    * compaction policy would fire data-dependently around append ~17,
    * then crash in the verb's own layout check — better to fail at the
    * first nightly call with the routing answer).
    */
  def pqFilesPerCell(spark: org.apache.spark.sql.SparkSession,
                     dir: String): Double = {
    val files = listDataFiles(spark, dir)
    val perCell = files.groupBy(_.getParent.getName).map {
      case (parent, fs) => (parent, fs.size)
    }
    require(perCell.keys.forall(_.startsWith("cell=")),
      s"$dir is not a cell-partitioned PQ index (data files outside " +
        "cell= directories); flat indexes compact with " +
        "graft.sources.Layout.compact")
    if (perCell.isEmpty) 0.0 else perCell.values.max.toDouble
  }

  /** Compact a cell-partitioned code index in place — the maintenance
    * verb the PQ tier's append story needs for symmetry with
    * [[graft.sources.Layout.compactBucketed]]: rewrite the code table
    * (codes-sized — never a re-encode; the codebooks don't enter) back
    * to one file per cell, changing nothing a serve can observe (the
    * layout stays partition-pruned; AnnSpec pins serve parity). The
    * staging-swap mechanism, crash window and nightly-window rule are
    * [[StandingIndex.compactCellsStagingSwap]]'s.
    */
  def compactPqIndexByCell(spark: org.apache.spark.sql.SparkSession,
                           dir: String): Int = {
    val (codes, partitioned) = readCodeIndex(spark, dir)
    require(partitioned,
      s"$dir is not a cell-partitioned PQ index (no cell= directories); " +
        "flat indexes compact with graft.sources.Layout.compact")
    StandingIndex.compactCellsStagingSwap(spark, dir, codes,
      "compactPqIndexByCell")
  }

  /** The compaction POLICY to [[compactPqIndexByCell]]'s mechanism —
    * [[graft.sources.Layout.compactBucketedIfNeeded]]'s rule applied to
    * the cell tier: compact when the DEEPEST cell has accumulated more
    * than `maxFilesPerCell` data files ([[pqFilesPerCell]]), else do
    * nothing. Same default threshold of 16, cited to the same
    * IndexServeProbe drift measurement (files-per-unit-of-layout is the
    * serve overhead in both layouts; a probed serve reads nProbe cells'
    * files, so per-cell depth is exactly its per-file cost multiplier).
    * Call from the nightly append job; deliberately not from inside
    * [[appendPqIndexByCell]] (the append-cost-predictability argument).
    */
  def compactPqIndexByCellIfNeeded(spark: org.apache.spark.sql.SparkSession,
                                   dir: String,
                                   maxFilesPerCell: Int = 16): Option[Int] =
    if (pqFilesPerCell(spark, dir) > maxFilesPerCell)
      Some(compactPqIndexByCell(spark, dir))
    else None

  /** The production probe bound for [[pqSearchAuto]]'s bounded branch:
    * nProbe=8 of the 16-cell coarse quantizer — the PqTune frontier's
    * chosen serving point (recall@5 0.86 on the frozen sf0.01 fixtures;
    * 4 was rejected at 0.70, below any defensible floor; AnnSpec pins
    * the bounded path's recall ≥ 0.80 so a codebook refreeze can't
    * silently degrade it).
    */
  val PqProbeServingPoint: Int = 8

  /** Default corpus-size bound for [[pqSearchAuto]]'s exhaustive branch
    * — MEASURED, not modeled (PqServeSweep, round 14, local[32], frozen
    * fixtures, fixed 40-query batch, indexed serve, corpus replicated):
    *
    *   corpus   exhaustive_s  probed8_s  ratio
    *     2000       2.49        2.24     1.11
    *    20000       2.77        2.23     1.24
    *   100000       4.83        4.00     1.21
    *
    * Both serving forms scan all codes single-node (the LUT join drops
    * unprobed cells only after the scan), so they grow together and
    * the exhaustive premium is the joined-row volume: ~10-25% in ratio,
    * under a second in absolute terms through 10^5 vectors — recall
    * 1.000 at that price is the right default. Past the bound the
    * premium compounds with corpus scale while the bounded point's
    * 0.86 recall stands pinned — and at cluster scale the standing
    * codes partition by coarse cell, where nProbe prunes the SCAN
    * itself (nProbe/nCells of the bytes — the genuinely sublinear path
    * the bound exists for, which no single-directory local measurement
    * can exhibit).
    */
  val PqExhaustiveCrossover: Long = 100000L

  /** Which serving point [[pqSearchAuto]] picks, exposed for the
    * branch-pinning spec: (source, form) where source is "indexed"
    * (standing code table) or "fused" (encode-at-query), and form is
    * "exhaustive" (all cells — recall 1.000) or "probed" (nProbe=8 —
    * the frontier's bounded point). A corpus past `maxExhaustive` with
    * no coarse quantizer has no cells to bound, so raw-PQ corpora serve
    * exhaustive at any size (the honest fallback: still a compressed
    * linear scan, never an error — mirroring similarityPairsAuto's
    * rule that an auto planner must not fail on inputs one of its
    * branches computes exactly).
    */
  private[graft] def pqServeBranch(corpusN: Long, hasIndex: Boolean,
                                   hasCoarse: Boolean,
                                   maxExhaustive: Long): (String, String) = {
    val source = if (hasIndex) "indexed" else "fused"
    val form =
      if (corpusN <= maxExhaustive || !hasCoarse) "exhaustive" else "probed"
    (source, form)
  }

  /** Cost-based serving-point dispatch for the PQ tier —
    * [[Linker.similarityPairsAuto]]'s pattern applied to ANN: the
    * caller states WHAT (top-k neighbors of the query sample under the
    * frozen codebooks) and the chooser picks the serving point from
    * corpus size and the PqTune frontier, instead of every call site
    * hand-picking among [[pqSearch]] / probe-bounded / [[pqSearchIndexed]]:
    *
    *  - source: a standing [[writePqIndex]] dir when given (`indexDir`)
    *    — reading published codes is never worse than re-encoding the
    *    corpus at query time (IndexServeProbe prices the saved encode);
    *    fused otherwise;
    *  - form: exhaustive (all cells, recall 1.000) while the corpus is
    *    within `maxExhaustiveVectors` ([[PqExhaustiveCrossover]] —
    *    measured by PqServeSweep) or when there is no coarse quantizer
    *    to bound by; past the bound, the frontier's pinned nProbe=8
    *    point ([[PqProbeServingPoint]], recall 0.86 ≥ the 0.80 AnnSpec
    *    floor).
    *
    * The corpus count is one map-side-combinable aggregate — noise
    * against either branch's serve (the similarityPairsAuto argument).
    * Branch choice is pinned in AnnSpec via [[pqServeBranch]]; both
    * forms are oracled independently (q_pq_search / q_pq_probe), and
    * q_pq_search_auto runs the dispatch end-to-end against the probed
    * oracle with the bound deliberately forced under the fixture size.
    */
  /** Vector count of a standing code index, from parquet FOOTERS — a
    * driver-side metadata read, no Spark job and no data pages touched.
    * The code table holds exactly m rows per vector (one per subspace,
    * both layouts), so footer row counts / m IS the corpus size; the
    * file count a listing walks is what the compaction policy bounds
    * ([[compactPqIndexByCellIfNeeded]]), so the walk stays thousands of
    * footers at worst, not corpus-scale. This is how [[pqSearchAuto]]
    * prices its dispatch against a standing index: the whole point of
    * the probed branch is sublinear I/O, so the chooser deciding FOR it
    * must not itself pay a corpus-scale action (round-14 verdict).
    */
  private[graft] def indexVecCount(spark: org.apache.spark.sql.SparkSession,
                                   indexDir: String, m: Int): Long = {
    val rows = parquetRowCount(spark, indexDir)
    // The m-rows-per-vector contract is the whole basis of this count:
    // a non-multiple total means the dir is not a code index (or holds
    // leftovers of a partially-committed write) — integer division would
    // silently truncate and hand pqSearchAuto a wrong dispatch input.
    require(rows % m == 0,
      s"indexVecCount: $indexDir holds $rows code rows, not a multiple " +
        s"of m=$m — not a code index for this model, or a partial write")
    rows / m
  }

  /** Row count of a parquet directory from its FOOTERS — the shared
    * driver-side metadata read behind [[indexVecCount]], the sign
    * tier's drift guard and [[annSearchAuto]]'s footer pricing: no
    * Spark job, no data pages, one footer open per data file (bounded
    * by the compaction policies).
    */
  private[graft] def parquetRowCount(spark: org.apache.spark.sql.SparkSession,
                                     dir: String): Long =
    StandingIndex.parquetRowCount(spark, dir)

  def pqSearchAuto(emb: DataFrame, idCol: String, embCol: String,
                   model: PqModel, queryPred: Column, k: Int,
                   coarse: Option[IvfModel] = None,
                   indexDir: Option[String] = None,
                   maxExhaustiveVectors: Long = PqExhaustiveCrossover): DataFrame = {
    // the corpus count can only matter when a coarse quantizer exists to
    // bound by (no coarse → exhaustive regardless), so the raw-PQ path
    // never pays a count for an unused answer; and with a STANDING index
    // the count comes from its parquet footers ([[indexVecCount]] — the
    // index's m-rows-per-vector contract), so the indexed dispatch path
    // runs no corpus-scale action at all. Only the fused-serve path
    // (about to re-encode the whole corpus anyway) pays emb.count().
    val corpusN =
      if (!coarse.isDefined) 0L
      else indexDir match {
        case Some(d) => indexVecCount(emb.sparkSession, d, model.m)
        case None    => emb.count()
      }
    val (_, form) = pqServeBranch(corpusN, indexDir.isDefined,
      coarse.isDefined, maxExhaustiveVectors)
    val nProbe = if (form == "probed") PqProbeServingPoint else Int.MaxValue
    indexDir match {
      case Some(d) => pqSearchIndexed(emb, idCol, embCol, model, queryPred,
        k, d, coarse, nProbe)
      case None => pqSearch(emb, idCol, embCol, model, queryPred, k,
        coarse, nProbe)
    }
  }

  /** [[pqSearch]] served from a persisted [[writePqIndex]] — the corpus
    * contributes one code scan per query batch, never a re-encode.
    * Result-identical to the fused form (same codes, same LUT, same
    * integer ADC sums), so it shares q_pq_search's oracle.
    */
  def pqSearchIndexed(emb: DataFrame, idCol: String, embCol: String,
                      model: PqModel, queryPred: Column, k: Int,
                      indexDir: String, coarse: Option[IvfModel] = None,
                      nProbe: Int = Int.MaxValue): DataFrame = {
    val (codes, partitioned) = readCodeIndex(emb.sparkSession, indexDir)
    pqSearchWith(codes, emb, idCol, embCol, model, queryPred, k, coarse,
      nProbe, cellPartitioned = partitioned)
  }

  /** STATIC cell pruning shared by the probed cell-partitioned serves
    * ([[pqSearchWith]]'s decision, applied by IVF-SQ8 too): collect the
    * batch's probed-cell union (bounded by ≤ |queries|·nProbe — the same
    * bound that lets the probe set broadcast at all, and `probed` must
    * already be pinned by the caller so this collect doesn't re-run the
    * query-side ranking) into a SORTED literal IN filter — sorted for a
    * deterministic plan/filter literal order — so unprobed cells' FILES
    * are never read. Chosen over Spark's dynamic partition pruning for
    * the reason documented at the pqSearchWith call site.
    */
  private def filterToProbedCells(codes: DataFrame,
                                  probed: DataFrame): DataFrame = {
    val cells = probed.select(col("cell")).distinct()
      .collect().map(_.getLong(0)).sorted
    codes.filter(col("cell").isin(cells: _*))
  }

  // Standing-code reader for both layouts — [[StandingIndex.readCodeIndex]]
  // (detects cell partitioning, re-reads the cell column as the BIGINT
  // the writer had so the ADC join key stays cast-free).
  private def readCodeIndex(spark: org.apache.spark.sql.SparkSession,
                            indexDir: String): (DataFrame, Boolean) =
    StandingIndex.readCodeIndex(spark, indexDir)

  private def pqSearchWith(codes: DataFrame,
                           emb: DataFrame, idCol: String, embCol: String,
                           model: PqModel, queryPred: Column, k: Int,
                           coarse: Option[IvfModel],
                           nProbe: Int,
                           cellPartitioned: Boolean = false): DataFrame = {
    val meta = codeMeta(emb.sparkSession, model)
    val scored = coarse match {
      case None =>
        val codeLong = codes
        // LUT via the (j, c, w) meta join — one small codegen'd d2 per
        // LUT row; the repartition is the Exchange barrier keeping the
        // query projection out of the fan-out.
        // explicit count: exempt from AQE coalescing (pqCodeArrays note) —
        // the LUT fan-out compute sits after this exchange
        val nPart = emb.sparkSession.conf
          .get("spark.sql.shuffle.partitions").toInt
        val queries = emb
          .withColumn("emb_d", toDouble(col(embCol)))
          .filter(queryPred)
          .select(col(idCol).as("query_id"), col("emb_d"))
          .repartition(nPart, col("query_id"))
        val subQ = slice(col("emb_d"),
          col("j") * model.subDim + 1, lit(model.subDim))
        val lut = queries.crossJoin(broadcast(meta))
          .select(col("query_id"), col("j"), col("c"),
            round(lit(1.0e12) * d2Col(subQ, col("w"), model.subDim))
              .cast("long").as("d2_e12"))
        codeLong.join(broadcast(lut), Seq("j", "c"))
          .groupBy("query_id", "vec_id")
          .agg(sum(col("d2_e12")).as("ad2_e12"))
      case Some(ivf) =>
        // IVFPQ ADC (Jégou et al. 2011 §IV-A): the corpus is (cell,
        // codes-of-residual); each query subtracts the PROBED cell's
        // centroid before building that cell's m·ks lookup table, so a
        // vector's approximate distance is computed against the query's
        // residual in the vector's OWN cell — the join key is (cell, j,
        // code). nProbe bounds the per-query cell fan-out (the production
        // knob); the default probes every cell, which still scans only
        // codes, never raw floats. Query-side residuals reuse the same
        // (x − c) elementwise form as [[pqCorpus]], so corpus and query
        // residual arithmetic round identically (the FP-parity contract).
        val codeLong = codes
        val queries = withNorm(emb, embCol).filter(queryPred)
          .select(col(idCol).as("query_id"), col("emb_d"), col("norm"))
        val exploded = queries
          .withColumn("__c", explode(centLit(ivf.centroids)))
        val probed0 =
          if (nProbe >= ivf.centroids.length) exploded
          else {
            // rank cells per query by the assignedOver score (DESC, cid)
            // and keep the nProbe best — the ivfSearch probe ranking.
            val wp = Window.partitionBy("query_id")
              .orderBy((dot(col("emb_d"), col("__c.cv")) / col("norm")).desc,
                col("__c.cid"))
            exploded.withColumn("__rn", row_number().over(wp))
              .filter(col("__rn") <= nProbe)
          }
        // Exchange barrier (codeLongOf reasoning): without it the
        // residual expression — and the cell ranking it rides on —
        // collapses into the LUT projection and re-evaluates once per
        // codeword meta row. probed is |queries|·nProbe rows; the
        // shuffle is noise.
        // explicit count: exempt from AQE coalescing (pqCodeArrays note) —
        // the per-cell LUT fan-out compute sits after this exchange
        val nPart = emb.sparkSession.conf
          .get("spark.sql.shuffle.partitions").toInt
        val probedRaw = probed0.select(col("query_id"),
            col("__c.cid").cast("long").as("cell"),
            zip_with(col("emb_d"), col("__c.cv"), (x, y) => x - y).as("qr"))
          .repartition(nPart, col("query_id"))
        // when the static cell pruning below will collect the probed-cell
        // union, pin the probed set first — it is |queries|·nProbe rows
        // by contract, and without the pin the collect and the LUT would
        // each re-run the whole query-side scan + ranking
        val pruning = cellPartitioned && nProbe < ivf.centroids.length
        val probed = if (pruning) probedRaw.localCheckpoint(true) else probedRaw
        // LUT via the (j, c, w) codeword meta table cross-joined onto
        // the probed (query, cell) residuals — ONE codegen'd d2 per LUT
        // row. The cross join is bounded by construction:
        // |queries|·nProbe × m·ks.
        val sub = slice(col("qr"),
          col("j") * model.subDim + 1, lit(model.subDim))
        val lut = probed.crossJoin(broadcast(meta))
          .select(col("query_id"), col("cell"), col("j"), col("c"),
            round(lit(1.0e12) * d2Col(sub, col("w"), model.subDim))
              .cast("long").as("d2_e12"))
        // STATIC cell pruning for the partitioned layout: the batch's
        // probed-cell union is bounded by contract (≤ |queries|·nProbe —
        // the same bound that lets the LUT broadcast at all), so one
        // tiny driver collect turns it into a literal IN partition
        // filter and unprobed cells' FILES are never read (nProbe/nCells
        // of the bytes — DppCheck measured the cut; chosen over dynamic
        // partition pruning, which planned the subquery here but
        // degraded to dynamicpruningexpression(true) at AQE runtime
        // because the ADC join's three-key broadcast never matched the
        // pruning subquery's reuse pattern). Flat layouts skip it: the
        // filter would prune nothing and the collect would be a wasted
        // job.
        val prunedCodes =
          if (pruning) filterToProbedCells(codeLong, probed) else codeLong
        prunedCodes.join(broadcast(lut), Seq("cell", "j", "c"))
          .groupBy("query_id", "vec_id")
          .agg(sum(col("d2_e12")).as("ad2_e12"))
    }
    val w = Window.partitionBy("query_id")
      .orderBy(col("ad2_e12").asc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "vec_id", "ad2_e12")
  }

  /** Recall audit for [[pqSearch]] against the EXACT squared-L2 top-k
    * (PQ approximates L2, so L2 — not cosine — is the right ground
    * truth). One audit row: (n_true, n_caught, recall). The exact side
    * is the declared query×corpus scan, bounded by the query predicate
    * (the [[embeddingRecallEval]] sample-tier-then-trust contract);
    * production tunes m/ks until recall clears the bar, then serves only
    * the compressed path.
    */
  def pqRecallEval(emb: DataFrame, idCol: String, embCol: String,
                   model: PqModel, queryPred: Column, k: Int,
                   coarse: Option[IvfModel] = None,
                   nProbe: Int = Int.MaxValue): DataFrame = {
    val corpus = emb.withColumn("emb_d", toDouble(col(embCol)))
      .select(col(idCol).as("vec_id"), col("emb_d"))
    val queries = corpus.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("emb_d").as("q_emb"))
    // full-dim squared L2 in the codegen'd element form ([[d2Col]]
    // reasoning — bit-identical to the zip_with-diff + dot fold)
    val scored = broadcast(queries).crossJoin(corpus)
      .withColumn("d2", d2Col(col("q_emb"), col("emb_d"), Dim))
    val w = Window.partitionBy("query_id").orderBy(col("d2").asc, col("vec_id"))
    val exact = scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id")
    val approx = pqSearch(emb, idCol, embCol, model, queryPred, k, coarse,
        nProbe)
      .select(col("query_id"), col("vec_id")).withColumn("hit", lit(1L))
    exact.join(approx, Seq("query_id", "vec_id"), "left")
      .agg(count(lit(1)).as("n_true"),
        coalesce(sum("hit"), lit(0L)).as("n_caught"))
      .select(col("n_true"), col("n_caught"),
        when(col("n_true") > 0,
          col("n_caught").cast("double") / col("n_true")).as("recall"))
  }

  /** Per-subspace Lloyd training (plain L2 — PQ quantizes raw
    * coordinates, unlike the spherical coarse quantizer). Deterministic:
    * hash-ordered seed pool (the [[trainIvf]] de-bias argument),
    * farthest-point init, fixed iterations — the [[trainIvf]] recipe
    * applied independently per subspace. With `coarse` the codebooks are
    * trained on IVF-cell residuals ([[pqCorpus]] — the IVFPQ recipe).
    * Train once per corpus snapshot (graft.tools.FreezePq), serve via
    * the frozen [[PqModel]].
    */
  def trainPq(emb: DataFrame, idCol: String, embCol: String,
              m: Int = 8, ks: Int = 8, iters: Int = 5,
              coarse: Option[IvfModel] = None): PqModel = {
    require(Dim % m == 0, s"Dim $Dim not divisible by m $m")
    val subDim = Dim / m
    val corpus = pqCorpus(emb, idCol, embCol, coarse)
      .select(col("vec_id"), col("emb_d"))
      .cache()
    // Hash-ordered pool, not id-ordered — the trainIvf de-bias argument:
    // id prefixes correlate with source/domain at corpus scale, so an
    // id-ordered pool can sample one mode; xxhash64 is a deterministic
    // uniform draw.
    val pool: Array[Seq[Double]] = corpus
      .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(ks * 8)
      .select(col("emb_d")).collect().map(_.getSeq[Double](0))
    require(pool.nonEmpty,
      "trainPq needs a non-empty corpus (no vectors to seed codebooks from)")
    val codebooks = (0 until m).map { j =>
      val subPool = pool.map(_.slice(j * subDim, (j + 1) * subDim))
      var cents: Array[(Int, Seq[Double])] =
        farthestPointSeeds(subPool, ks, identity)
          .zipWithIndex.map { case (v, i) => (i, v) }.toArray
      for (_ <- 1 to iters) {
        val scored = cents.map { case (cid, v) =>
          struct(d2Lit(subSlice(j, subDim), v).as("d"), lit(cid).as("cid"))
        }
        val best = if (scored.length == 1) scored.head else least(scored: _*)
        val means = corpus.withColumn("cell", best.getField("cid"))
          .select(col("cell"),
            posexplode(subSlice(j, subDim)).as(Seq("pos", "x")))
          .groupBy("cell", "pos").agg(avg("x").as("mv"))
          .groupBy("cell").agg(map_from_arrays(
            collect_list(col("pos")), collect_list(col("mv"))).as("mm"))
          .collect()
        val updated = means.map { r =>
          val mm = r.getMap[Int, Double](1)
          (r.getInt(0), (0 until subDim).map(i => mm.getOrElse(i, 0.0)))
        }.toMap
        cents = cents.map { case (cid, v) => (cid, updated.getOrElse(cid, v)) }
      }
      cents
    }.toArray
    corpus.unpersist()
    PqModel(subDim, codebooks)
  }

  // =========================================================================
  // SQ8 tier — symmetric int8 scalar quantization + exact rerank, the
  // train-free two-stage serve (public knowledge: FAISS's SQ8 flat index
  // refined by an exact re-ranker). Complements IVFPQ on the other end of
  // the compression/operability trade: no codebooks to train or refreeze
  // against drift in SHAPE (only a single scalar scale), 4x byte cut on the
  // stage-1 scan instead of PQ's ~16-32x, recall governed by ONE knob (the
  // candidate count) instead of (m, ks, nProbe). Stage-1 ranking is EXACT
  // integer arithmetic over the codes (codegen kernel
  // [[graft.functions.dot_product_i8]]), so it is engine-reproducible with
  // no FP-parity argument at all; stage 2 re-ranks only |Q|·candidates rows
  // by exact float cosine fetched from the raw table — the FAISS refine
  // economics: sequential scan of small codes, candidate-bounded fetch of
  // floats.
  // =========================================================================

  /** Symmetric quantization scale for the SQ8 tier: the corpus-wide
    * max |x|. Deliberately a MAX, not any accumulated statistic — the max
    * over exact float→double widenings involves no summation, so Spark and
    * the DuckDB oracle compute the identical double, and everything
    * downstream of it is integer-exact. One map-side-combinable aggregate
    * over the corpus (the same cost class as pqSearchAuto's fused count).
    * Degenerate corpora fail HERE with the tier named, not downstream:
    * an empty corpus would otherwise NPE out of Row.getDouble, and an
    * all-zero corpus would return scale=0.0 and turn every code into a
    * silent divide-by-zero NaN→null inside [[sq8QuantCol]].
    */
  def sq8MaxAbs(emb: DataFrame, embCol: String): Double = {
    val row = emb.agg(max(array_max(transform(toDouble(col(embCol)),
      x => abs(x))))).first()
    require(!row.isNullAt(0), "sq8MaxAbs: empty corpus — the SQ8 tier " +
      "needs at least one vector to freeze a quantization scale")
    val s = row.getDouble(0)
    require(s > 0.0, "sq8MaxAbs: corpus max |x| is 0 (all-zero vectors) " +
      "— a zero scale would quantize every code to null (SQ8 tier)")
    s
  }

  /** Elementwise int8 quantization under `scale`: round(x·127/scale)
    * clamped to [-127, 127], stored as `array<tinyint>` — 4x fewer bytes
    * than the float column, which is the standing index's whole point.
    * round is HALF_UP on both engines; the clamp is what makes APPENDS
    * under a frozen scale total (an out-of-range late vector saturates
    * instead of wrapping — see [[appendSq8Index]]). The transform HOF is
    * CodegenFallback, which is fine where this runs: once per publish in
    * the indexed tier (the scale path), per serve only in the fused form
    * — the O(|Q|·N) stage-1 scoring loop itself is the codegen kernel.
    */
  private def sq8QuantCol(c: Column, scale: Double): Column =
    transform(toDouble(c), x =>
      greatest(lit(-127.0), least(lit(127.0),
        round(x * lit(127.0) / lit(scale)))).cast("tinyint"))

  /** Shared two-stage serve over prepared (corpus codes, query codes):
    * stage 1 keeps `candidates` per query by exact int dot (ties by
    * vec_id — integer scores tie often, so the tie-break is load-bearing
    * for determinism); stage 2 re-ranks those candidates by exact float
    * cosine (the [[cosineTopK]] formulation, so sims hash-match the
    * cosine oracles'). Stage-1 selection goes through the bounded-heap
    * [[graft.plans.TopKPerKey]] physical operator, NOT a row_number
    * window: the scored stream is |Q|·N rows, and the window spelling
    * would shuffle and sort ALL of them by query_id, while the heap's
    * partial pass reduces map-side to ≤ candidates rows per (partition,
    * query) before the exchange — the selected set is identical (same
    * order, same tie-break), only the shuffle volume changes. The
    * candidate set is |Q|·candidates rows — broadcast it, so the stage-2
    * float fetch is one streamed scan of the raw table with a broadcast
    * hash join, never a shuffle of the corpus.
    */
  private def sq8TwoStage(emb: DataFrame, idCol: String, embCol: String,
                          queryPred: Column, k: Int, candidates: Int,
                          corpusQ: DataFrame, queriesQ: DataFrame): DataFrame = {
    val scored = broadcast(queriesQ).crossJoin(corpusQ)
      .select(col("query_id"), col("vec_id"),
        graft.functions.dot_product_i8(col("qqv"), col("qv")).as("iscore"))
    val cand = graft.plans.TopKPerKey.topKPerKey(scored, Seq("query_id"),
        Seq("iscore" -> false, "vec_id" -> true), candidates)
      .select("query_id", "vec_id")
    rerankByCosine(emb, idCol, embCol, queryPred, k, cand)
  }

  /** Stage-2 refine shared by the quantized tiers ([[sq8Search]],
    * [[hammingSearch]]): exact float cosine over a bounded candidate set
    * — the [[cosineTopK]] formulation, so sims hash-match the cosine
    * oracles'. `cand` is |Q|·candidates (query_id, vec_id) rows —
    * broadcast it, so the float fetch is one streamed scan of the raw
    * table with a broadcast hash join, never a shuffle of the corpus.
    */
  private def rerankByCosine(emb: DataFrame, idCol: String, embCol: String,
                             queryPred: Column, k: Int,
                             cand: DataFrame): DataFrame = {
    val corpusF = withNorm(emb, embCol)
      .select(col(idCol).as("vec_id"), col("emb_d"), col("norm"))
    val queriesF = corpusF.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("emb_d").as("q_emb"),
        col("norm").as("q_norm"))
    val rer = broadcast(cand)
      .join(corpusF, "vec_id")
      .join(broadcast(queriesF), "query_id")
      .select(col("query_id"), col("vec_id"),
        (dot(col("q_emb"), col("emb_d")) / (col("q_norm") * col("norm")))
          .as("sim"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id"))
    rer.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "vec_id", "sim")
  }

  /** Fused SQ8 serve: quantize corpus and queries in-flight (paying the
    * scale aggregate + quantization per call), then the two-stage serve.
    * The standing-index twin ([[sq8SearchIndexed]]) amortizes both.
    */
  def sq8Search(emb: DataFrame, idCol: String, embCol: String,
                queryPred: Column, k: Int, candidates: Int = 20,
                scale: Option[Double] = None): DataFrame = {
    val s = scale.getOrElse(sq8MaxAbs(emb, embCol))
    val renamed = emb.select(col(idCol).as("vec_id"), col(embCol))
    val corpusQ = renamed.select(col("vec_id"),
      sq8QuantCol(col(embCol), s).as("qv"))
    val queriesQ = renamed.filter(queryPred)
      .select(col("vec_id").as("query_id"),
        sq8QuantCol(col(embCol), s).as("qqv"))
    sq8TwoStage(emb, idCol, embCol, queryPred, k, candidates, corpusQ, queriesQ)
  }

  /** Publish the SQ8 code index: int8 codes under `dir/codes`, the frozen
    * scale under `dir/scale` (one-row parquet — the publish-time
    * quantization grid every later append and serve MUST reuse; a grid
    * change re-quantizes every code, i.e. a full rebuild, the same
    * refreeze rule as the PQ codebooks in OPERATIONS.md). The serve's
    * candidate count `candidates` rides in the same one-row sidecar
    * (sign-tier symmetry, round 17): serves default to the published C,
    * so no call site re-guesses the knob QuantTune tuned. SQ8's recall
    * at the default C=20 is corpus-ROBUST (1.000 on every fixture — the
    * reason this tier needs no drift guard where the sign tier does),
    * so only C is published, not a recall or a corpus count. Returns
    * the scale it froze.
    */
  def writeSq8Index(emb: DataFrame, idCol: String, embCol: String,
                    dir: String, candidates: Int = 20,
                    measuredRecall: Option[Double] = None): Double = {
    // a non-positive C would publish fine and crash only at the first
    // DEFAULT serve, inside TopKPerKey, naming neither dir nor sidecar —
    // fail at the publish, where the mistake is (review round 17)
    require(candidates > 0,
      s"writeSq8Index: candidates must be positive, got $candidates " +
        "(omit the parameter for the pinned default of 20)")
    val s = sq8MaxAbs(emb, embCol)
    emb.select(col(idCol).as("vec_id"), sq8QuantCol(col(embCol), s).as("qv"))
      .write.mode("overwrite").parquet(s"$dir/codes")
    StandingIndex.publishMetaRow(emb.sparkSession, s"$dir/scale", Seq(
      "scale" -> StandingIndex.MetaDouble(s),
      "candidates" -> StandingIndex.MetaInt(candidates),
      "recall" -> StandingIndex.optVal(measuredRecall)))
    s
  }

  /** The published quantization grid of a standing SQ8 index — a one-row
    * driver-side read, the dispatch-cost class of [[indexVecCount]].
    */
  def sq8IndexScale(spark: org.apache.spark.sql.SparkSession,
                    dir: String): Double =
    StandingIndex.readMetaRow(spark, s"$dir/scale").get[Double]("scale")

  /** The published serve parameters of a standing SQ8-family index (flat
    * or cell-partitioned): the frozen scale, the candidate count C, the
    * optional audited recall, the probe width the recall was measured at
    * (cell tier only — the flat tier has no cells to probe), and the
    * publish-time corpus size the cell tier's drift guard compares
    * against. TOLERANT of sidecars written before each column existed
    * (candidates → the pinned 20, nProbe → the probed serving point,
    * recall/nVectors → None): the OPERATIONS.md contract is that only a
    * GRID change forces a rebuild, so a sidecar-schema addition must not
    * strand an old index (review round 17 — the strict read made every
    * pre-round-17 index unservable while its appends kept succeeding).
    */
  private final case class Sq8Meta(scale: Double, candidates: Int,
                                   recall: Option[Double], nProbe: Int,
                                   nVectors: Option[Long],
                                   centroidFp: Option[Long])

  private def sq8IndexMeta(spark: org.apache.spark.sql.SparkSession,
                           dir: String): Sq8Meta = {
    val m = StandingIndex.readMetaRow(spark, s"$dir/scale")
    Sq8Meta(m.get[Double]("scale"),
      m.opt[Int]("candidates").getOrElse(20),
      m.opt[Double]("recall"),
      m.opt[Int]("n_probe").getOrElse(PqProbeServingPoint),
      m.opt[Long]("n_vectors"),
      m.opt[Long]("centroid_fp"))
  }

  /** The serve/append-time centroid-binding guard
    * ([[StandingIndex.requireCentroidFpMatch]] on this tier's sidecar):
    * a published fingerprint must match the caller's model; a
    * pre-round-18 sidecar (no fingerprint column) passes — the
    * tolerant-sidecar rule.
    */
  private def requireCentroidsMatch(meta: Sq8Meta, coarse: IvfModel,
                                    dir: String, verb: String): Unit =
    StandingIndex.requireCentroidFpMatch(meta.centroidFp,
      coarse.centroids, dir, verb)

  /** INCREMENTAL PUBLISH for the SQ8 tier: quantize ONLY the day's batch
    * under the PUBLISHED scale and append its codes — batch-sized work,
    * the standing side never opened (the same contract as
    * [[appendPqIndex]]: new ids only; the frozen grid is what keeps old
    * codes valid). An out-of-range late vector SATURATES at ±127 by the
    * quantizer's clamp — lossy for that vector's stage-1 score but total
    * and rerank-corrected; refreeze (full [[writeSq8Index]] rebuild) when
    * the corpus' dynamic range has genuinely drifted. Same empty-batch
    * guard as the flat PQ append (an empty unpartitioned append lays down
    * a stray empty file the serve would re-open forever).
    */
  def appendSq8Index(embBatch: DataFrame, idCol: String, embCol: String,
                     dir: String): Unit =
    StandingIndex.appendFlat(embBatch,
      embBatch.select(col(idCol).as("vec_id"),
        sq8QuantCol(col(embCol),
          sq8IndexScale(embBatch.sparkSession, dir)).as("qv")),
      s"$dir/codes")

  /** Compact the SQ8 tier's standing codes in place — the flat-index
    * counterpart of [[compactPqIndexByCell]] (round-17 item 3: the flat
    * appends accumulate one parquet file per batch forever, so the
    * serve's stage-1 scan pays N file opens for the same bytes). Wraps
    * [[graft.sources.Layout.compactDir]] onto `dir/codes`; the one-row
    * scale sidecar never accumulates and is left alone. Codes-sized,
    * never a re-encode (the frozen scale doesn't enter); changes nothing
    * a serve can observe (AnnSpec pins serve parity). Nightly-window
    * rules and crash recovery as documented on compactDir.
    */
  def compactSq8Index(spark: org.apache.spark.sql.SparkSession,
                      dir: String): Int =
    graft.sources.Layout.compactDir(spark, s"$dir/codes")

  /** [[graft.sources.Layout.compactDirIfNeeded]]'s policy on the SQ8
    * code dir — same measured 16-file threshold, same call-from-the-
    * nightly-append-job contract as every other tier's policy verb.
    */
  def compactSq8IndexIfNeeded(spark: org.apache.spark.sql.SparkSession,
                              dir: String, maxFiles: Int = 16): Option[Int] =
    graft.sources.Layout.compactDirIfNeeded(spark, s"$dir/codes", maxFiles)

  /** Serve against a standing SQ8 index: stage 1 scans the published
    * int8 codes (4x fewer bytes than the float column, quantization
    * amortized at publish), stage 2 fetches floats for the candidate set
    * only. Queries quantize in-flight under the index's frozen scale —
    * |Q| rows, noise. `candidates` <= 0 (the default) serves at the
    * PUBLISHED candidate count, the sign-tier contract applied here for
    * API symmetry; pass an explicit positive C to override (recall
    * audits sweeping the knob).
    */
  def sq8SearchIndexed(emb: DataFrame, idCol: String, embCol: String,
                       queryPred: Column, k: Int, dir: String,
                       candidates: Int = 0): DataFrame = {
    val spark = emb.sparkSession
    val meta = sq8IndexMeta(spark, dir)
    val c = if (candidates > 0) candidates else meta.candidates
    val corpusQ = spark.read.parquet(s"$dir/codes")
    val queriesQ = emb.select(col(idCol).as("vec_id"), col(embCol))
      .filter(queryPred)
      .select(col("vec_id").as("query_id"),
        sq8QuantCol(col(embCol), meta.scale).as("qqv"))
    sq8TwoStage(emb, idCol, embCol, queryPred, k, c, corpusQ, queriesQ)
  }

  // =========================================================================
  // IVF-SQ8 — the cell-partitioned SQ8 layout (round 17): the point on
  // the compression spectrum between SQ8-flat (no pruning, trivial ops)
  // and IVFPQ (pruned AND maximally compressed, codebook burden). Same
  // int8 codes and frozen scale as the flat tier, laid out one directory
  // per coarse cell like [[writePqIndexByCell]], so a probed serve reads
  // nProbe/nCells of the code FILES — IVFPQ's pruning economics at SQ8's
  // ops burden. The refreeze surface is deliberately asymmetric: the
  // scale gates code VALIDITY (a grid change rebuilds, exactly the flat
  // tier's rule), while the centroids gate only ROUTING quality — a
  // drifted centroid degrades recall gradually, it never invalidates a
  // code. Public knowledge: FAISS's IVF-SQ index family.
  // =========================================================================

  /** THE cell-assignment definition (training via [[assignedOver]], IVF
    * search, and the SQ8 cell publishers all route here — drift between
    * any two of them directly costs recall): a column-generic pure
    * pass-through PROJECTION adding `cell` (BIGINT) as the per-row
    * argmax over the (small, literal) centroid set — highest cosine
    * score, lowest cid on ties — instead of exploding corpus x nCells
    * and shuffling through a window, so cell labeling costs zero
    * exchanges on the corpus side. The argmax is `greatest` over
    * (score, -cid) structs — struct comparison is lexicographic and
    * greatest is codegen'd, where an aggregate-over-array fold would run
    * interpreted per corpus row. (Degenerate all-NaN scores — a zero
    * vector — pick cell 0 here vs a fold's -1 sentinel; both arbitrary,
    * no real embedding hits it.) Requires [[withNorm]]'s emb_d/norm on
    * the input. [[pqCorpus]]'s residual variant stays separate by
    * necessity — its struct must also carry the winning centroid VECTOR
    * for the residual subtraction — but states the same ordering.
    */
  private def withCell(df: DataFrame,
                       cs: Array[(Int, Seq[Double])]): DataFrame = {
    val scored = cs.map { case (cid, v) =>
      struct((dot(col("emb_d"), array(v.map(lit): _*)) / col("norm"))
        .as("score"), lit(-cid.toLong).as("ncid"))
    }
    val best = if (scored.length == 1) scored.head else greatest(scored: _*)
    df.withColumn("cell", -best.getField("ncid"))
  }

  /** Publish [[writeSq8Index]]'s codes CELL-PARTITIONED under `coarse`:
    * same frozen scale, plus the coarse cell as the partition column —
    * one publish-time shuffle (repartition by cell so each cell lands
    * as one file, the [[writePqIndexByCell]] small-files guard). The
    * sidecar publishes the full serve CONTRACT: C, `nProbe` — the knob
    * that actually governs this tier's recall (IvfSq8Tune: recall is
    * C-independent, nProbe-driven), so a measured recall stays BOUND to
    * the probe width it was measured at and the default serve runs at
    * exactly that width (round-17 review: publishing the non-governing
    * knob let a wide-probe audit claim a floor the default narrow serve
    * didn't clear) — plus the publish-time corpus size for the drift
    * guard (routing recall is corpus-dependent through the centroids,
    * the sign-tier rule). Serve with [[sq8SearchByCell]]; compact with
    * [[compactSq8IndexByCellIfNeeded]]. Returns the scale it froze.
    */
  def writeSq8IndexByCell(emb: DataFrame, idCol: String, embCol: String,
                          dir: String, coarse: IvfModel,
                          candidates: Int = 20,
                          nProbe: Int = PqProbeServingPoint,
                          measuredRecall: Option[Double] = None): Double = {
    require(candidates > 0,
      s"writeSq8IndexByCell: candidates must be positive, got $candidates")
    require(nProbe > 0,
      s"writeSq8IndexByCell: nProbe must be positive, got $nProbe")
    val s = sq8MaxAbs(emb, embCol)
    StandingIndex.writeCells(
      withCell(withNorm(emb, embCol), coarse.centroids)
        .select(col(idCol).as("vec_id"), col("cell"),
          sq8QuantCol(col(embCol), s).as("qv")),
      s"$dir/codes", "overwrite")
    val n = parquetRowCount(emb.sparkSession, s"$dir/codes")
    StandingIndex.publishMetaRow(emb.sparkSession, s"$dir/scale", Seq(
      "scale" -> StandingIndex.MetaDouble(s),
      "candidates" -> StandingIndex.MetaInt(candidates),
      "recall" -> StandingIndex.optVal(measuredRecall),
      "n_probe" -> StandingIndex.MetaInt(nProbe),
      "n_vectors" -> StandingIndex.MetaLong(n),
      // the centroid binding: serves/appends must present the SAME
      // model this publish partitioned with (requireCentroidsMatch)
      "centroid_fp" -> StandingIndex.MetaLong(
        StandingIndex.centroidFingerprint(coarse.centroids))))
    s
  }

  /** Batch-only append to a cell-partitioned SQ8 index: quantize under
    * the PUBLISHED scale (saturating, the flat append's contract), route
    * by the SAME centroids the publish used, append under the cell
    * directories. One file per touched cell per batch — the same
    * small-files drift as every partitioned tier, cleaned by
    * [[compactSq8IndexByCellIfNeeded]] from the nightly job. The
    * partitioned pre-write repartition skips empty batches, so no
    * empty-batch guard is needed (the appendPqIndexByCell precedent).
    */
  def appendSq8IndexByCell(embBatch: DataFrame, idCol: String,
                           embCol: String, dir: String,
                           coarse: IvfModel): Unit = {
    val meta = sq8IndexMeta(embBatch.sparkSession, dir)
    requireCentroidsMatch(meta, coarse, dir, "appendSq8IndexByCell")
    StandingIndex.writeCells(
      withCell(withNorm(embBatch, embCol), coarse.centroids)
        .select(col(idCol).as("vec_id"), col("cell"),
          sq8QuantCol(col(embCol), meta.scale).as("qv")),
      s"$dir/codes", "append")
  }

  /** The cell tier's compaction policy applied to the SQ8 cell dir —
    * [[compactPqIndexByCellIfNeeded]] IS the mechanism (it is
    * schema-agnostic: it rewrites whatever cell-partitioned rows the dir
    * holds); this alias just routes it at the right subdir with the
    * tier's name on it.
    */
  def compactSq8IndexByCellIfNeeded(spark: org.apache.spark.sql.SparkSession,
                                    dir: String,
                                    maxFilesPerCell: Int = 16): Option[Int] =
    compactPqIndexByCellIfNeeded(spark, s"$dir/codes", maxFilesPerCell)

  /** Probed serve against a standing [[writeSq8IndexByCell]] index:
    * rank the nProbe best cells per query by the SAME argmax score the
    * publish routed with, turn the batch's probed-cell union into a
    * literal partition filter (static pruning — the [[pqSearchWith]]
    * decision, for the same AQE/DPP reason), then the standard SQ8 two
    * stages over the surviving cells' codes only: exact int8 dot
    * through the bounded-heap TopKPerKey, exact cosine refine. Stage-1
    * I/O is nProbe/nCells of the code bytes — the sublinear path the
    * layout exists for. `candidates` <= 0 serves at the published C and
    * `nProbe` <= 0 (the default) at the PUBLISHED probe width — the
    * knob that actually governs this tier's recall (IvfSq8Tune:
    * C-independent, nProbe-driven), so the default serve IS the audited
    * configuration the published recall was measured at (round-17
    * review: publishing only the non-governing knob let a wide-probe
    * audit claim a floor the default narrow serve didn't clear); pass
    * explicit positives to override (recall sweeps). The drift guard: a
    * corpus grown past `maxDriftFactor` × the publish-time size fails
    * loudly — routing recall is corpus-dependent through the now-stale
    * centroids (the sign-tier rule and bar).
    */
  def sq8SearchByCell(emb: DataFrame, idCol: String, embCol: String,
                      queryPred: Column, k: Int, dir: String,
                      coarse: IvfModel,
                      nProbe: Int = 0,
                      candidates: Int = 0,
                      maxDriftFactor: Double = SignRetuneBar): DataFrame = {
    val spark = emb.sparkSession
    val meta = sq8IndexMeta(spark, dir)
    requireCentroidsMatch(meta, coarse, dir, "sq8SearchByCell")
    val c = if (candidates > 0) candidates else meta.candidates
    val np = if (nProbe > 0) nProbe else meta.nProbe
    meta.nVectors.foreach { published =>
      StandingIndex.requireWithinDriftBar(
        parquetRowCount(spark, s"$dir/codes"), published, maxDriftFactor,
        "ivf-sq8", dir, "routed recall at the published (nProbe, C) is " +
          "corpus-dependent through the centroids",
        "IvfSq8Tune", "writeSq8IndexByCell")
    }
    val (codes, partitioned) = readCodeIndex(spark, s"$dir/codes")
    require(partitioned,
      s"$dir/codes is not cell-partitioned (no cell= directories) — " +
        "serve flat SQ8 indexes with sq8SearchIndexed")
    val q0 = withNorm(emb, embCol).filter(queryPred)
      .select(col(idCol).as("query_id"), col("emb_d"), col("norm"),
        sq8QuantCol(col(embCol), meta.scale).as("qqv"))
    val exploded = q0.withColumn("__c", explode(centLit(coarse.centroids)))
    val probed0 =
      if (np >= coarse.centroids.length) exploded
      else {
        // the ivfSearch probe ranking: score DESC, cid ASC
        val wp = Window.partitionBy("query_id")
          .orderBy((dot(col("emb_d"), col("__c.cv")) / col("norm")).desc,
            col("__c.cid"))
        exploded.withColumn("__rn", row_number().over(wp))
          .filter(col("__rn") <= np)
      }
    val probedRaw = probed0.select(col("query_id"), col("qqv"),
      col("__c.cid").cast("long").as("cell"))
    val pruning = np < coarse.centroids.length
    // pin before the pruning collect — |Q|·nProbe rows by contract;
    // without it the collect and the scoring join each re-run the whole
    // query-side scan + ranking (the pqSearchWith pin)
    val probed = if (pruning) probedRaw.localCheckpoint(true) else probedRaw
    val prunedCodes =
      if (pruning) filterToProbedCells(codes, probed) else codes
    val scored = broadcast(probed).join(prunedCodes, "cell")
      .select(col("query_id"), col("vec_id"),
        graft.functions.dot_product_i8(col("qqv"), col("qv")).as("iscore"))
    val cand = graft.plans.TopKPerKey.topKPerKey(scored, Seq("query_id"),
        Seq("iscore" -> false, "vec_id" -> true), c)
      .select("query_id", "vec_id")
    rerankByCosine(emb, idCol, embCol, queryPred, k, cand)
  }

  // =========================================================================
  // Sign-bit (1-bit) tier — the extreme-compression end of the quantized
  // spectrum next to SQ8 (8-bit) and PQ (sub-byte product codes): each
  // vector's dimension signs pack into ⌈dims/32⌉ 32-bit lanes (16x fewer
  // bytes than the float column at any multiple-of-32 width; see
  // [[signLane]] for why 32-bit lanes), stage 1 ranks by EXACT integer
  // Hamming distance (a lane-summed bit_count(xor) — built-in,
  // whole-stage-codegen, no custom kernel needed), stage 2 is the shared
  // exact cosine refine. Public knowledge: sign-random-projection
  // similarity is Charikar'02 SimHash; here the "projections" are the
  // coordinate axes themselves (sign of each dim), the classic
  // binary-hashing baseline. Operationally the simplest tier of all:
  // signatures are SCALE-FREE — no codebooks, no quantization grid — so
  // appends need nothing frozen and can never saturate. What IS
  // corpus-dependent is recall at a fixed candidate count (measured 0.90
  // at sf0.01 vs 0.59 at sf0.1 at C=50 — QuantTune), so the candidate
  // count is a PUBLISHED index parameter ([[SignIndexMeta]]): the
  // QuantTune-derived C and the recall it bought ride in the index dir,
  // serves default to them, and corpus growth past [[SignRetuneBar]]
  // fails the serve loudly instead of silently degrading recall.
  // =========================================================================

  /** Lane count of a sign signature over `dims` dimensions: 32 sign bits
    * per lane, last lane partial when dims isn't a multiple of 32.
    */
  private[graft] def signLanes(dims: Int): Int = {
    require(dims > 0, s"sign-bit tier: dims must be positive, got $dims")
    (dims + 31) / 32
  }

  /** Lane `j` of the sign signature over `__sig_in` (dims 32j+1..32j+32,
    * bit i−1 ← sign of dim 32j+i): bit set iff the dimension is >= 0.
    * 32 bits per lane, not 64: bit 63 of a packed long is Long.MIN_VALUE,
    * which Spark's shiftleft wraps silently but an engine with checked
    * BIGINT arithmetic (the DuckDB oracle) refuses outright (1 << 63
    * overflow) — and an INT lane would hit the same trap one level down
    * at bit 31. The 32-bit-ranged BIGINT lanes keep every shift and sum
    * comfortably in-range on any engine; parquet stores the two 64-dim
    * lanes in the same 16 bytes as the previous two-column layout, so
    * the 16x byte cut stands. Built from the SQL lambda form
    * (transform-with-index + aggregate) — HOFs are CodegenFallback, fine
    * where this runs: once per publish in the indexed tier, per scan in
    * the fused form; the O(|Q|·N) stage-1 Hamming loop itself
    * ([[hammingDist]]) is built-in codegen.
    */
  private def signLane(j: Int): Column =
    expr(s"aggregate(transform(slice(__sig_in, ${32 * j + 1}, 32), (x, i) -> " +
      "IF(x >= 0, shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))), " +
      "CAST(0 AS BIGINT), (acc, v) -> acc + v)")

  /** The full signature projection: lanes `<prefix>0..<prefix>{L-1}`. */
  private def sigCols(lanes: Int, prefix: String): Seq[Column] =
    (0 until lanes).map(j => signLane(j).as(s"$prefix$j"))

  /** The `__sig_in` projection with the declared-dims guard: a vector
    * whose length doesn't match the declared dims must fail loudly —
    * slice() past the array end silently returns short lanes, so the
    * signature would otherwise be computed from a truncated prefix
    * (round-16 advice). A size() compare per row — noise next to the
    * lane aggregates it gates.
    */
  private def sigInput(embCol: String, dims: Int): Column =
    when(size(col(embCol)) === dims, col(embCol))
      .otherwise(raise_error(concat(
        lit("sign-bit tier: embedding size "),
        size(col(embCol)).cast("string"),
        lit(s" != declared dims $dims")))).as("__sig_in")

  /** Lane-summed exact Hamming distance between `qsig_*` and `sig_*` —
    * every term a built-in bit_count(xor) over scalar columns, so the
    * whole stage-1 scoring loop stays inside whole-stage codegen (the
    * reason signatures are lane COLUMNS, not an array: zip_with/aggregate
    * over an array column would put a CodegenFallback HOF in the O(|Q|·N)
    * hot loop).
    */
  private def hammingDist(lanes: Int): Column =
    (0 until lanes).map(j =>
        bit_count(col(s"qsig_$j").bitwiseXOR(col(s"sig_$j"))))
      .reduce(_ + _).cast("long")

  /** Fused sign-bit serve: signature both sides in-flight, rank by
    * Hamming ASC (ties by vec_id) through the bounded-heap
    * [[graft.plans.TopKPerKey]], exact-cosine refine of the survivors.
    * Lower recall per candidate than SQ8 (1 bit per dim) — the
    * `candidates` default is wider accordingly; the recall/candidates
    * trade is the tier's one knob, priced by q_hamming_recall.
    * `queryPred` is applied to the raw (vec_id, embCol) projection, the
    * same column visibility as [[sq8Search]].
    */
  def hammingSearch(emb: DataFrame, idCol: String, embCol: String,
                    queryPred: Column, k: Int,
                    candidates: Int = 50, dims: Int = Dim): DataFrame = {
    val lanes = signLanes(dims)
    val base = emb.select(col(idCol).as("vec_id"), col(embCol))
    val corpusS = base.select(col("vec_id"), sigInput(embCol, dims))
      .select(col("vec_id") +: sigCols(lanes, "sig_"): _*)
    val queriesS = base.filter(queryPred)
      .select(col("vec_id").as("query_id"), sigInput(embCol, dims))
      .select(col("query_id") +: sigCols(lanes, "qsig_"): _*)
    hammingTwoStage(emb, idCol, embCol, queryPred, k, candidates, lanes,
      corpusS, queriesS)
  }

  private def hammingTwoStage(emb: DataFrame, idCol: String, embCol: String,
                              queryPred: Column, k: Int, candidates: Int,
                              lanes: Int, corpusS: DataFrame,
                              queriesS: DataFrame): DataFrame = {
    val scored = broadcast(queriesS).crossJoin(corpusS)
      .select(col("query_id"), col("vec_id"), hammingDist(lanes).as("hd"))
    val cand = graft.plans.TopKPerKey.topKPerKey(scored, Seq("query_id"),
        Seq("hd" -> true, "vec_id" -> true), candidates)
      .select("query_id", "vec_id")
    rerankByCosine(emb, idCol, embCol, queryPred, k, cand)
  }

  /** What a standing sign index publishes BESIDE its signatures — the
    * serve parameters that are corpus-dependent and must therefore be
    * decided at publish time, not re-guessed per call site (round-16
    * verdict: recall at fixed C fell 0.90 → 0.59 across a decade of
    * corpus growth, and a hand-passed C silently degrades until someone
    * re-runs QuantTune):
    *
    *  - `dims`/`lanes` — the signature layout appends must reproduce;
    *  - `candidates` — the QuantTune-derived stage-1 candidate count
    *    serves default to;
    *  - `recall` — the recall@5 that C bought on the publish corpus
    *    (None when the publisher didn't audit), carried so downstream
    *    dispatch ([[annSearchAuto]]) can hold it against a floor;
    *  - `nVectors` — the publish-time corpus size the drift guard
    *    measures growth against ([[SignRetuneBar]]).
    */
  final case class SignIndexMeta(dims: Int, lanes: Int, candidates: Int,
                                 recall: Option[Double], nVectors: Long)

  /** Corpus-growth bar past which a standing sign index must be retuned
    * (QuantTune) or republished rather than served: the measured decade
    * of growth (sf0.01 → sf0.1) cost 0.31 recall at fixed C=50 — about
    * 0.09 per doubling on the log-linear read of the two points — so 2x
    * keeps the expected drift-induced recall loss under 0.1 while letting
    * a year of ordinary daily appends through.
    */
  val SignRetuneBar: Double = 2.0

  /** Publish the sign-signature index: lane columns under `dir/sigs`
    * (16x fewer bytes than the floats), serve parameters under
    * `dir/meta` ([[SignIndexMeta]] — one row). Signatures themselves are
    * SCALE-FREE (no codebooks, no grid), so appends have nothing frozen
    * to honor; what the meta row freezes is the serve CONTRACT — the
    * candidate count C (QuantTune-derived; pass the recall it measured
    * so dispatch can price the tier) and the corpus size the drift
    * guard compares against. Returns the meta it published.
    */
  def writeSignIndex(emb: DataFrame, idCol: String, embCol: String,
                     dir: String, candidates: Int = 50,
                     measuredRecall: Option[Double] = None,
                     dims: Int = Dim): SignIndexMeta = {
    // same publish-time guard as writeSq8Index: a non-positive C would
    // crash only at the first default serve, far from the mistake
    require(candidates > 0,
      s"writeSignIndex: candidates must be positive, got $candidates " +
        "(omit the parameter for the default of 50)")
    val lanes = signLanes(dims)
    emb.select(col(idCol).as("vec_id"), sigInput(embCol, dims))
      .select(col("vec_id") +: sigCols(lanes, "sig_"): _*)
      .write.mode("overwrite").parquet(s"$dir/sigs")
    // publish-time corpus size from the just-written FOOTERS — no second
    // scan, same driver-side metadata read the serve's drift guard uses
    val n = parquetRowCount(emb.sparkSession, s"$dir/sigs")
    StandingIndex.publishMetaRow(emb.sparkSession, s"$dir/meta", Seq(
      "dims" -> StandingIndex.MetaInt(dims),
      "lanes" -> StandingIndex.MetaInt(lanes),
      "candidates" -> StandingIndex.MetaInt(candidates),
      "recall" -> StandingIndex.optVal(measuredRecall),
      "n_vectors" -> StandingIndex.MetaLong(n)))
    SignIndexMeta(dims, lanes, candidates, measuredRecall, n)
  }

  /** The published serve parameters of a standing sign index — a one-row
    * driver-side read, the dispatch-cost class of [[indexVecCount]].
    * NAMES the pre-round-17 stranding instead of leaking a raw
    * path-does-not-exist: the layout moved from flat signature files at
    * the dir root (two sig_lo/sig_hi columns, no meta) to `dir/sigs` +
    * a mandatory `dir/meta` contract row, and a legacy index CANNOT be
    * migrated in place — the meta row's C/recall/nVectors are QuantTune
    * measurements the old layout never recorded, so the only honest
    * path is a republish (round-17 advice: the SQ8 sidecar got a
    * tolerant read for the same stranding concern, but there the added
    * columns had safe defaults; an invented recall here would let the
    * dispatcher claim a floor nobody measured).
    */
  def signIndexMeta(spark: org.apache.spark.sql.SparkSession,
                    dir: String): SignIndexMeta = {
    val conf = spark.sparkContext.hadoopConfiguration
    val metaPath = new org.apache.hadoop.fs.Path(s"$dir/meta")
    val fs = metaPath.getFileSystem(conf)
    if (!fs.exists(metaPath) && fs.exists(new org.apache.hadoop.fs.Path(dir))) {
      val rootFiles = StandingIndex.listDataFileStatuses(spark, dir)
        .filterNot(_.getPath.toString.contains("/sigs/"))
      require(rootFiles.isEmpty,
        s"sign index at $dir has the pre-round-17 flat layout " +
          "(signature files at the dir root, no meta contract row) — " +
          "the serve parameters (C, recall, corpus size) it needs were " +
          "never published; re-run graft.tools.QuantTune and republish " +
          "with writeSignIndex")
    }
    val m = StandingIndex.readMetaRow(spark, s"$dir/meta")
    SignIndexMeta(m.get[Int]("dims"), m.get[Int]("lanes"),
      m.get[Int]("candidates"), m.opt[Double]("recall"),
      m.get[Long]("n_vectors"))
  }

  /** Batch-only append — new ids, nothing frozen to honor (signatures
    * are scale-free); the lane LAYOUT comes from the published meta so
    * an append can never drift from the standing signature width. Same
    * empty-batch stray-file guard as the other flat appends. The meta
    * row is deliberately NOT updated: `nVectors` stays the publish-time
    * size so the serve's drift guard measures cumulative growth since
    * the last QuantTune, which is exactly the quantity the retune bar
    * is about.
    */
  def appendSignIndex(embBatch: DataFrame, idCol: String, embCol: String,
                      dir: String): Unit =
    StandingIndex.appendFlat(embBatch, {
      val meta = signIndexMeta(embBatch.sparkSession, dir)
      embBatch.select(col(idCol).as("vec_id"),
          sigInput(embCol, meta.dims))
        .select(col("vec_id") +: sigCols(meta.lanes, "sig_"): _*)
    }, s"$dir/sigs")

  /** Compact the sign tier's standing signature files in place —
    * [[compactSq8Index]]'s twin on `dir/sigs` (the one-row meta sidecar
    * never accumulates). Signature-sized, nothing recomputed; serve
    * parity and the drift guard's footer count are both unaffected
    * (compaction rewrites the same rows into fewer files).
    */
  def compactSignIndex(spark: org.apache.spark.sql.SparkSession,
                       dir: String): Int =
    graft.sources.Layout.compactDir(spark, s"$dir/sigs")

  /** [[graft.sources.Layout.compactDirIfNeeded]]'s policy on the sign
    * signature dir — same measured 16-file threshold, same nightly-job
    * contract.
    */
  def compactSignIndexIfNeeded(spark: org.apache.spark.sql.SparkSession,
                               dir: String, maxFiles: Int = 16): Option[Int] =
    graft.sources.Layout.compactDirIfNeeded(spark, s"$dir/sigs", maxFiles)

  /** Serve against a standing sign index: stage 1 scans ~16 bytes per
    * corpus vector. `candidates` <= 0 (the default) serves at the
    * PUBLISHED candidate count — the QuantTune-derived C recorded at
    * publish time — so call sites don't re-guess a corpus-dependent
    * knob; pass an explicit positive C to override (recall audits
    * sweeping the knob). The drift guard: a corpus grown past
    * `maxDriftFactor` × the publish-time size fails loudly with the
    * retune instruction instead of silently serving degraded recall
    * (round-16 verdict item 2).
    */
  def hammingSearchIndexed(emb: DataFrame, idCol: String, embCol: String,
                           queryPred: Column, k: Int, dir: String,
                           candidates: Int = 0,
                           maxDriftFactor: Double = SignRetuneBar): DataFrame = {
    val spark = emb.sparkSession
    val meta = signIndexMeta(spark, dir)
    val c = if (candidates > 0) candidates else meta.candidates
    StandingIndex.requireWithinDriftBar(
      parquetRowCount(spark, s"$dir/sigs"), meta.nVectors, maxDriftFactor,
      "sign", dir,
      s"recall at the published C=${meta.candidates} is corpus-dependent",
      "QuantTune", "writeSignIndex")
    val corpusS = spark.read.parquet(s"$dir/sigs")
    val queriesS = emb.select(col(idCol).as("vec_id"), col(embCol))
      .filter(queryPred)
      .select(col("vec_id").as("query_id"), sigInput(embCol, meta.dims))
      .select(col("query_id") +: sigCols(meta.lanes, "qsig_"): _*)
    hammingTwoStage(emb, idCol, embCol, queryPred, k, c, meta.lanes,
      corpusS, queriesS)
  }

  // =========================================================================
  // Cross-tier ANN dispatch — the OPERATIONS.md tier-selection table as a
  // verb (round-17 item 1): five serving tiers exist (exact, LSH, IVF/PQ,
  // SQ8, sign-bit) and a 100 TB operator's real knob is WHICH tier, not a
  // tier's internal parameters. annSearchAuto decides it from exactly
  // what pqSearchAuto already prices — standing-index availability,
  // footer/listing-priced bytes, and the frozen recall entries — so the
  // dispatch itself runs no corpus-scale action. This is the engine-side
  // answer to the reference's one-size similarity serve
  // (soulutionOne.py:53-57): the caller states WHAT (top-k under a
  // recall floor) and the chooser picks the serving point.
  // =========================================================================

  /** Frozen recall@5 of the SQ8 serve at its pinned C=20 — 1.000 on
    * every fixture (QuantTune; AnnSpec pins the 0.90 floor). Used by
    * [[annServeBranch]] as the tier's entry; a floor of exactly 1.0
    * still routes to the exact tier, because a measured 1.000 is an
    * estimate and "nothing less than ground truth" is a different ask.
    */
  val Sq8FrozenRecall: Double = 1.0

  /** Frozen recall@5 of the probe-bounded PQ serve (nProbe=8, the PqTune
    * frontier point; AnnSpec pins the 0.80 floor).
    */
  val PqProbedFrozenRecall: Double = 0.86

  /** Which (tier, source) [[annSearchAuto]] picks, pure for the
    * branch-pinning spec (the [[pqServeBranch]] pattern). `standing` is
    * one (tier, indexBytes, frozenRecall) row per standing index the
    * caller holds. Rules, in order:
    *
    *  - `recallFloor >= 1.0` is the audit ask — serve exact cosine
    *    regardless of indexes (the recall rows that gate every other
    *    tier are computed against exactly this);
    *  - else the CHEAPEST standing index (by priced bytes; ties by tier
    *    name for determinism) whose frozen/published recall clears the
    *    floor — stage-1 scan bytes are the serve's scale cost, so
    *    cheapest-qualifying is the whole selection table in one line.
    *    A sign index published without a recall audit carries recall
    *    0.0 here: an unaudited tier can't claim a floor;
    *  - no qualifying standing index → fused SQ8, the OPERATIONS.md
    *    default compressed serve (its 1.000 entry clears every sub-1.0
    *    floor, and fusing pays one corpus quantization — the honest
    *    fallback, never an error, mirroring similarityPairsAuto's rule).
    */
  private[graft] def annServeBranch(recallFloor: Double,
      standing: Seq[(String, Long, Double)]): (String, String) =
    if (recallFloor >= 1.0) ("exact", "fused")
    else standing.filter(_._3 >= recallFloor)
      .sortBy(t => (t._2, t._1)).headOption match {
      case Some((tier, _, _)) => (tier, "indexed")
      case None => ("sq8", "fused")
    }

  // The dispatch-side drift rule (excluded past the bar — the sign
  // tier's measured 0.31 recall loss per decade is why the bar exists)
  // and the dispatch-time byte pricer both live in [[StandingIndex]];
  // local aliases keep the dispatch body readable.
  private def driftExcluded(n: Long, published: Long, bar: Double)
      : Boolean = StandingIndex.driftExcluded(n, published, bar)

  private def dirDataBytes(spark: org.apache.spark.sql.SparkSession,
                           dir: String): Long =
    StandingIndex.dirDataBytes(spark, dir)

  /** Cost/recall-aware cross-tier serve: top-k neighbors of the query
    * set under `recallFloor`, served from the cheapest standing tier
    * that clears it. Pass whichever standing indexes exist — none is
    * required (the fallback is the fused SQ8 serve). Per-tier notes:
    *
    *  - `signDir`: the published recall (QuantTune-derived, recorded at
    *    publish — [[SignIndexMeta]]) is what's held against the floor,
    *    and the serve runs at the published C with the drift guard
    *    active — the round-17 meta row is exactly what makes this tier
    *    dispatchable without re-measuring;
    *  - `sq8Dir`: the [[Sq8FrozenRecall]] entry at the pinned C=20;
    *  - `pqDir` (+ `pqModel`, required together; `pqCoarse` optional):
    *    the recall held against the floor is the entry of the branch
    *    [[pqSearchAuto]] WOULD serve — probed (0.86) past the measured
    *    exhaustive crossover when a coarse quantizer exists, 1.000
    *    exhaustive otherwise — priced from the index footers like
    *    pqSearchAuto itself.
    *
    * The dispatch inputs are all driver-side metadata (listing bytes,
    * footer counts, one-row meta sidecars): choosing a tier whose point
    * is sublinear I/O must not itself pay a corpus-scale action (the
    * round-14 pqSearchAuto rule, held here too). Branch choice is
    * pinned in AnnSpec via [[annServeBranch]]; q_ann_auto runs the
    * dispatch end-to-end against the SQ8 oracle with the sign tier
    * deliberately excluded by the floor.
    *
    * The table's other two tiers are deliberately NOT dispatch targets:
    * hyperplane LSH ([[lshTopK]]) is a candidate GENERATOR for pair
    * problems (its buckets bound which pairs exist, not a top-k
    * ranking — OPERATIONS.md places it under dup-pair serving), and IVF
    * ([[ivfSearch]]) publishes no compressed standing artifact at all —
    * it prunes a float table that must already be hot, so "is the float
    * table hot" is the caller's situation, not something a chooser can
    * price from index metadata.
    */
  def annSearchAuto(emb: DataFrame, idCol: String, embCol: String,
                    queryPred: Column, k: Int,
                    recallFloor: Double = 0.95,
                    sq8Dir: Option[String] = None,
                    signDir: Option[String] = None,
                    pqDir: Option[String] = None,
                    pqModel: Option[PqModel] = None,
                    pqCoarse: Option[IvfModel] = None,
                    ivfSq8Dir: Option[String] = None,
                    ivfSq8Coarse: Option[IvfModel] = None): DataFrame = {
    val spark = emb.sparkSession
    require(pqDir.isEmpty == pqModel.isEmpty,
      "annSearchAuto: pqDir and pqModel come together (codes are " +
        "unreadable without the codebooks that wrote them)")
    require(ivfSq8Dir.isEmpty == ivfSq8Coarse.isEmpty,
      "annSearchAuto: ivfSq8Dir and ivfSq8Coarse come together (codes " +
        "are unroutable without the centroids that partitioned them)")
    val standing = Seq.newBuilder[(String, Long, Double)]
    sq8Dir.foreach { d =>
      // the recall held against the floor must track the index's
      // PUBLISHED configuration, because the serve runs at the published
      // C: a publish-time measured recall wins; absent one, the frozen
      // 1.000 entry applies only when the published C is at least the
      // pinned 20 it was measured at — a narrower unaudited publish
      // can't claim it (review round 17: the static claim let a C=5
      // publish silently serve under a 0.99 floor)
      val m = sq8IndexMeta(spark, d)
      val recall = m.recall.getOrElse(
        if (m.candidates >= 20) Sq8FrozenRecall else 0.0)
      standing += (("sq8", dirDataBytes(spark, s"$d/codes"), recall))
    }
    signDir.foreach { d =>
      val meta = signIndexMeta(spark, d)
      // one walk prices bytes and counts rows; drift exclusion
      // ([[StandingIndex.driftExcluded]]): past the retune bar the
      // published recall is unclaimable AND the serve's own guard would
      // throw — the tier stops qualifying instead (footer-count read,
      // the same driver-side metadata the serve's guard uses)
      val (sigBytes, sigRows) = StandingIndex.dirStats(spark, s"$d/sigs")
      if (!driftExcluded(sigRows, meta.nVectors, SignRetuneBar))
        standing += (("sign", sigBytes, meta.recall.getOrElse(0.0)))
    }
    pqDir.foreach { d =>
      val n = indexVecCount(spark, d, pqModel.get.m)
      val (_, form) = pqServeBranch(n, hasIndex = true, pqCoarse.isDefined,
        PqExhaustiveCrossover)
      val recall = if (form == "probed") PqProbedFrozenRecall else 1.0
      standing += (("pq", dirDataBytes(spark, d), recall))
    }
    ivfSq8Dir.foreach { d =>
      // routed recall is corpus-dependent through the centroids, so only
      // a publish-time measured figure can claim a floor — the sign-tier
      // rule (an unaudited publish counts 0.0). The serve runs at the
      // PUBLISHED nProbe (the knob the figure was measured at), and the
      // priced bytes are the PROBED share — nProbe/nCells of the code
      // bytes is what stage 1 actually reads (round-17 review: pricing
      // full bytes made the pruned tier lose every byte comparison to
      // the flat tier it exists to undercut)
      val m = sq8IndexMeta(spark, d)
      // one listing walk prices bytes AND counts rows (round-18 review:
      // dirDataBytes + parquetRowCount were two identical walks)
      val (codeBytes, codeRows) =
        StandingIndex.dirStats(spark, s"$d/codes")
      // drift exclusion FIRST, the sign tier's rule: routed recall is
      // corpus-dependent through the now-stale centroids, so growth
      // past the bar makes the published figure unclaimable (a
      // pre-round-17 sidecar without n_vectors can't prove growth —
      // it keeps qualifying, the tolerant-sidecar rule). Checked BEFORE
      // the fingerprint: the post-retune flow (grown index, freshly
      // retuned model in hand, republish not yet run) must EXCLUDE the
      // tier, not crash on the model mismatch the retune just created
      // (round-18 review)
      val drifted = m.nVectors.exists(pub =>
        driftExcluded(codeRows, pub, SignRetuneBar))
      if (!drifted) {
        // a mispaired model on a NON-drifted index is a caller BUG, not
        // drift — fail loudly (the pqDir/pqModel pairing rule) rather
        // than let the byte pricer rank a tier whose probes wouldn't
        // match the code layout
        requireCentroidsMatch(m, ivfSq8Coarse.get, d, "annSearchAuto")
        val nCells = ivfSq8Coarse.get.centroids.length
        val frac = math.min(1.0, m.nProbe.toDouble / nCells)
        // the PROBED share — nProbe/nCells of the code bytes is what
        // stage 1 actually reads (round-17 review: pricing full bytes
        // made the pruned tier lose every byte comparison to the flat
        // tier it exists to undercut); fraction measured at exactly
        // nProbe/nCells through the full lifecycle (ScaleProbe
        // ivfsq8_lifecycle)
        standing += (("ivfsq8", math.ceil(codeBytes * frac).toLong,
          m.recall.getOrElse(0.0)))
      }
    }
    annServeBranch(recallFloor, standing.result()) match {
      case ("exact", _) =>
        cosineTopK(emb, idCol, embCol, queryPred, k)
      case ("sign", _) =>
        hammingSearchIndexed(emb, idCol, embCol, queryPred, k, signDir.get)
      case ("sq8", "indexed") =>
        sq8SearchIndexed(emb, idCol, embCol, queryPred, k, sq8Dir.get)
      case ("pq", _) =>
        pqSearchAuto(emb, idCol, embCol, pqModel.get, queryPred, k,
          pqCoarse, indexDir = pqDir)
      case ("ivfsq8", _) =>
        sq8SearchByCell(emb, idCol, embCol, queryPred, k, ivfSq8Dir.get,
          ivfSq8Coarse.get)
      case _ =>
        sq8Search(emb, idCol, embCol, queryPred, k, 20)
    }
  }
}
