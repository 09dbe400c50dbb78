package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Levenshtein-threshold self-join (the reference's J2,
  * /root/reference/solutionThree.py:20 — fuzzy-link rows whose keys are
  * within edit distance k; the reflexive pair is intentionally included,
  * matching the reference).
  *
  * Two physically different but RESULT-IDENTICAL strategies:
  *
  *  - [[Naive]]: non-equi theta join — Catalyst plans a
  *    BroadcastNestedLoopJoin, O(n²) `levenshtein` evaluations. The
  *    reference's shape; fine below ~10^4 rows, unusable at 100 TB.
  *
  *  - [[DeletionNeighborhood]] (SymSpell-style, the scale path): if
  *    lev(a,b) <= k then deleting the <=k edited characters from each side
  *    reaches a COMMON string (the matched subsequence of any optimal
  *    alignment — subs+dels <= k removed from a, subs+ins <= k from b). So
  *    exploding each key into its <=k-deletion neighborhood and equi-joining
  *    on the variant yields a guaranteed SUPERSET of the true pairs, which a
  *    final exact `levenshtein` filter reduces to exactly the naive result.
  *    All heavy work is shuffle-on-key equi-join + hash aggregate — linear
  *    data movement, AQE-handled skew, no cartesian anywhere: the shape that
  *    survives a 1000-executor 100 TB run.
  *
  * Equivalence of the two strategies is asserted in EditDistanceJoinSpec.
  */
object EditDistanceJoin {

  sealed trait Strategy
  case object Naive extends Strategy
  case object DeletionNeighborhood extends Strategy

  /** All ≤k-deletion variants of s (including s itself), distinct.
    *
    * Deletions remove whole CODE POINTS, not UTF-16 units: Spark's and
    * DuckDB's `levenshtein` count code points, so a supplementary-plane
    * character (e.g. an emoji) is ONE edit — deleting only one of its two
    * UTF-16 units would cost the variant generator two deletions and break
    * the candidate-superset guarantee (regression-tested with astral-plane
    * pairs in EditDistanceJoinSpec).
    */
  private[graft] def deletionVariants(s: String, k: Int): Array[String] = {
    def delete(t: String, cpIndex: Int): String = {
      val start = t.offsetByCodePoints(0, cpIndex)
      val end = t.offsetByCodePoints(start, 1)
      t.substring(0, start) + t.substring(end)
    }
    val seen = mutable.LinkedHashSet(s)
    var frontier: Set[String] = Set(s)
    var d = 0
    while (d < k) {
      frontier = frontier.flatMap { t =>
        (0 until t.codePointCount(0, t.length)).iterator
          .map(i => delete(t, i))
          .filterNot(seen.contains)
          .toSet
      }
      seen ++= frontier
      d += 1
    }
    seen.toArray
  }

  /** FNV-1a 64-bit over UTF-16 units. Only used to give each deletion
    * variant a narrow join key, so the only property needed is
    * determinism; a collision only ADDS a candidate pair, which the exact
    * levenshtein verify then removes.
    */
  private[graft] def fnv1a64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i).toLong
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** The ≤k-deletion neighborhood of s as DISTINCT 64-bit hashes.
    *
    * Hashing inside the generator (instead of exploding variant strings
    * and hashing per-row) keeps the explode output at 8 bytes per
    * variant: for an 18-char key at k=2 that is ~170 longs instead of
    * ~170 17-char strings per input row — the exploded table is the
    * join's shuffle input, so this is the dominant byte-count lever.
    * Dedup on the hash is exact enough: two distinct variants of the SAME
    * row that collide would have produced identical join keys anyway, so
    * emitting the hash once loses no candidate.
    */
  private[graft] def deletionVariantHashes(s: String, k: Int): Array[Long] =
    deletionVariants(s, k).map(fnv1a64)

  /** Verified UNDIRECTED id pairs (id_a < id_b) with lev <= maxDist — the
    * shared core of [[pairs]] and [[linkedAggregate]].
    *
    * Join on the 64-bit hash of each deletion variant, not the variant
    * string: narrower shuffle rows, long-vs-long hash probes. A collision
    * only ADDS a candidate; the exact levenshtein verify removes it.
    * The exploded rows carry (gid, key_length, variant_hash) — the length
    * band needs only the length, so the key string itself never rides the
    * big shuffle.
    *
    * DUPLICATE-KEY SKEW GUARD (exactness-preserving): the variant join
    * runs over DISTINCT keys only (one representative gid = min id per
    * key), and id-level pairs are rebuilt afterwards by group-membership
    * expansion. A corpus flooded with f copies of one key — dedup's
    * common case, precisely because those rows are what linking exists to
    * find — would otherwise push f·|variants| exploded rows into the join
    * and f²·|variants| witness rows out of it (the O(f²)-per-hot-variant
    * blowup NearDup guards with shinglesWithSkewGuard). Here the flood
    * collapses BEFORE the explode: the hot key contributes one variant
    * set, its intra-group pairs (lev = 0 by definition — no variant
    * machinery, no verify) are enumerated by a plain equi-self-join on
    * key, and cross-group pairs multiply out by membership only AFTER the
    * per-distinct-key verify. Every emitted row is a true output pair, so
    * post-guard cost is output cardinality, not join blowup. Unlike the
    * shingle guard this changes NO semantics: a frequency-threshold drop
    * would lose pairs that meet only at a hot variant; deduping keys
    * cannot (equal keys have identical neighborhoods). Equivalence on a
    * skewed fixture is pinned in EditDistanceJoinSpec; the 10^4-replicated
    * name probe lives in ScaleProbe.
    *
    * The equi-join is HALF-ORDERED (gid_a < gid_b): self- and mirror-
    * witnesses are never generated (the full join emits ~2x the rows and
    * every reflexive pair x its whole variant set).
    *
    * Stage order (measured at sf0.1, d=2, LinkStageProbe): distinct runs
    * over the NARROW (long, long) candidate pairs FIRST, then keys
    * re-attach and the banded threshold-levenshtein verifies each UNIQUE
    * candidate once. Witness multiplicity is ~8 per candidate here
    * (31.7M join rows -> 4.1M unique), so verify-before-distinct paid the
    * lev on every witness (9.6s); this order pays it once per candidate
    * (6.3s). The one ordering that must NOT come back: distinct over
    * candidates WITH key columns attached — hash-aggregating wide string
    * rows measured 147s on the same input. The key re-attach joins
    * shuffle on gid (bounded, one row per distinct key) with no broadcast
    * hint — AQE broadcasts the key table when it is genuinely small.
    *
    * shuffle_hash hint: Catalyst can't estimate post-explode cardinality
    * (generator-produced arrays) and mis-chooses a broadcast hash join,
    * collecting the ~100x-exploded variant table to the driver and probing
    * one giant hash relation (measured 7x slower at sf0.1 — and an OOM at
    * 100 TB). A partitioned hash join on the variant key is the scalable
    * plan.
    */
  private def halfIdPairs(base: DataFrame, maxDist: Int): DataFrame = {
    // Null keys produce no pairs (levenshtein(null, _) is null -> the
    // verify drops them), so exclude them before grouping.
    val keyed = base.filter(col("key").isNotNull)
    val dk = keyed.groupBy("key").agg(min(col("id")).as("gid"))
    // Explicit partition count before the variant explode: AQE sizes the
    // post-groupBy exchange by its INPUT bytes (a few hundred KB of
    // distinct keys) and coalesces it to ONE partition — but the compute
    // lives AFTER the ~(len·k)-way generator fan-out, so the coalesced
    // plan runs the whole neighborhood expansion single-threaded
    // (measured: a 1.7-2.4 s one-task stage inside q_link_agg_lev,
    // graft.tools.LinkAggAudit — the same AQE blind spot as the PQ
    // encode in Ann.pqCodeArrays). A user-specified count is
    // exempt from AQE coalescing. The repartition column must NOT be
    // `key`: the groupBy child is already hash-partitioned on key, so a
    // same-column repartition is elided as redundant and the coalescible
    // groupBy exchange is all that remains (verified in the physical
    // plan); `gid` forces a fresh user-pinned exchange.
    val nPart = base.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    val variants = dk.repartition(nPart, col("gid"))
      .withColumn("__len", length(col("key")))
      .select(col("gid"), col("__len"),
        explode(graft.functions.deletion_variant_hashes(col("key"), maxDist))
          .as("__v"))
    // Length band: lev(a,b) <= k forces |len(a)-len(b)| <= k, so the
    // cheap precomputed-length comparison runs at hash-probe time and
    // spares the distinct (and the verify) the candidates it can reject —
    // pure pruning, never drops a true pair.
    val cand = variants.as("a").hint("shuffle_hash")
      .join(variants.as("b"),
        col("a.__v") === col("b.__v") && col("a.gid") < col("b.gid") &&
          abs(col("a.__len") - col("b.__len")) <= maxDist)
      .select(col("a.gid").as("gid_a"), col("b.gid").as("gid_b"))
      .distinct()
    val verified = cand
      .join(dk.select(col("gid").as("gid_a"), col("key").as("key_a")), "gid_a")
      .join(dk.select(col("gid").as("gid_b"), col("key").as("key_b")), "gid_b")
      .filter(levenshtein(col("key_a"), col("key_b"), maxDist) >= 0)
      .select("key_a", "key_b")
    // Cross-group expansion: every member of key_a's group pairs with
    // every member of key_b's group. gid order says nothing about member
    // id order, so each expanded pair re-orients to id_a < id_b (keys
    // travel with their ids).
    // Same expansion-fan-out pin as [[pairsAgainst]]: the verified
    // distinct-key pairs are small by bytes, but the group-membership
    // expansion multiplies them by both groups' sizes — on a corpus with
    // few distinct keys AQE's coalesced one-partition exchange would run
    // that corpus-scale fan-out single-threaded.
    val cross = verified.repartition(nPart, col("key_a"))
      .join(keyed.select(col("id").as("__ia"), col("key").as("key_a")), "key_a")
      .join(keyed.select(col("id").as("__ib"), col("key").as("key_b")), "key_b")
      .select(when(col("__ia") < col("__ib"),
          struct(col("__ia").as("id_a"), col("key_a"),
                 col("__ib").as("id_b"), col("key_b")))
        .otherwise(
          struct(col("__ib").as("id_a"), col("key_b").as("key_a"),
                 col("__ia").as("id_b"), col("key_a").as("key_b"))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.key_a").as("key_a"),
              col("p.id_b").as("id_b"), col("p.key_b").as("key_b"))
    // Intra-group pairs: identical keys are lev = 0 <= maxDist by
    // definition. The self equi-join on key emits exactly the true pair
    // set — for a group of size f that is f(f-1)/2 rows of REQUIRED
    // output, generated in one codegen'd probe with no distinct, no
    // variant explosion, and no levenshtein. Singleton groups emit
    // nothing.
    val intra = keyed.as("a")
      .join(keyed.as("b"),
        col("a.key") === col("b.key") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("a.key").as("key_a"),
              col("b.id").as("id_b"), col("b.key").as("key_b"))
    cross.unionByName(intra)
  }

  /** Undirected verified id pairs (id_a < id_b) with lev <= maxDist — the
    * edge-list form for graph consumers ([[ConnectedComponents]]): skips
    * the directed/reflexive expansion that [[pairs]] performs (the key
    * re-attach runs inside the shared core, where the verify needs the
    * keys anyway; this form just drops them). `df` must have unique
    * values in idCol (same contract as [[pairs]]).
    */
  def idPairs(df: DataFrame, idCol: String, keyCol: String,
              maxDist: Int): DataFrame =
    halfIdPairs(df.select(col(idCol).as("id"), col(keyCol).as("key")), maxDist)
      .select("id_a", "id_b")

  /** Cross-table edit-distance match: every `left` row paired with every
    * `right` (dictionary) row within lev <= maxDist — the master-data /
    * spell-correction shape ("map each dirty name to its canonical
    * entry"), as a TWO-TABLE deletion-neighborhood equi-join: both sides
    * explode into their <=maxDist-deletion variant hashes and meet on the
    * variant (superset guarantee is the same one-sided-deletions argument
    * as the self-join), then the exact banded `levenshtein` verifies.
    * Output: (left_id, left_key, right_id, right_key, dist), directed —
    * one row per matching dictionary entry; downstream picks a winner
    * (e.g. min dist, then min right_id) when it needs one. Both inputs
    * must have unique ids (same contract as [[pairs]]) — the candidate
    * set deduplicates on (left_id, right_id) and re-attaches keys by id,
    * so a duplicated id row would multiply its matches.
    *
    * Scale: linear shuffle on variant hashes for both sides; the
    * dictionary is typically the small side — its ~(len·k) variant
    * explosion still shuffles (not broadcast) because post-explode size is
    * opaque to Catalyst (same shuffle_hash reasoning as [[halfIdPairs]]).
    */
  def pairsAgainst(left: DataFrame, leftId: String, leftKey: String,
                   right: DataFrame, rightId: String, rightKey: String,
                   maxDist: Int): DataFrame = {
    // Same duplicate-key skew guard as [[halfIdPairs]]: the variant join
    // runs over each side's DISTINCT keys (the dirty corpus is exactly
    // where one misspelling floods — f copies of "Mcrosoft" must cost one
    // variant set, not f), and id-level matches are rebuilt afterwards by
    // key-membership expansion. Equal left/right keys are a legitimate
    // cross-table match (dist 0) and survive naturally — they share every
    // variant and pass the verify.
    val lk = left.select(col(leftId).as("id"), col(leftKey).as("key"))
      .filter(col("key").isNotNull)
    val rk = right.select(col(rightId).as("id"), col(rightKey).as("key"))
      .filter(col("key").isNotNull)
    def distinctKeys(df: DataFrame): DataFrame =
      df.groupBy("key").agg(min(col("id")).as("gid"))
    // Same explicit-count pin as [[halfIdPairs]]: the distinct-key
    // exchange is tiny by bytes, so AQE would coalesce it to one
    // partition ahead of the variant fan-out (and the pin must hash on
    // `gid`, not `key`, or it is elided as redundant with the groupBy).
    val nPart = left.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    def explodeSide(dk: DataFrame): DataFrame =
      dk.repartition(nPart, col("gid"))
        .withColumn("__len", length(col("key")))
        .select(col("gid"), col("__len"),
          explode(graft.functions.deletion_variant_hashes(col("key"), maxDist))
            .as("__v"))
    val ldk = distinctKeys(lk)
    val rdk = distinctKeys(rk)
    matchAgainstPostings(lk, explodeSide(ldk), ldk,
      explodeSide(rdk), rdk, rk, maxDist, nPart)
  }

  /** Shared core of [[pairsAgainst]] and [[pairsAgainstIndex]]: the
    * candidate equi-join over variant postings, narrow distinct, key
    * re-attach + banded verify, and the pinned membership expansion —
    * with the dictionary side's postings/keys/members supplied by the
    * caller (derived inline, or read from the standing index).
    */
  private def matchAgainstPostings(lk: DataFrame, lPost: DataFrame,
                                   ldk: DataFrame, rPost: DataFrame,
                                   rdk: DataFrame, rk: DataFrame,
                                   maxDist: Int, nPart: Int,
                                   expandRight: Boolean = true): DataFrame = {
    // hint on the RIGHT (dictionary) side: the hinted side is the
    // hash-build side, and the dictionary is the bounded one — building
    // over the corpus side inverts the plan at scale. Same verify order
    // as halfIdPairs: distinct the narrow gid pairs first, then re-attach
    // keys and verify each unique candidate once; `dist` is computed at
    // verify time (once per distinct key pair) and rides the expansion.
    val cand = lPost.as("a")
      .join(rPost.as("b").hint("shuffle_hash"),
        col("a.__v") === col("b.__v") &&
          abs(col("a.__len") - col("b.__len")) <= maxDist)
      .select(col("a.gid").as("lgid"), col("b.gid").as("rgid"))
      .distinct()
    val verified = cand
      .join(ldk.select(col("gid").as("lgid"), col("key").as("left_key")), "lgid")
      .join(rdk.select(col("gid").as("rgid"), col("key").as("right_key")), "rgid")
      .filter(levenshtein(col("left_key"), col("right_key"), maxDist) >= 0)
      .select(col("left_key"), col("right_key"), col("rgid"),
        levenshtein(col("left_key"), col("right_key")).as("dist"))
    // Third fan-out pin: the verified distinct-key matches are tiny by
    // bytes (AQE coalesces their exchange to one partition) but the
    // membership expansion below multiplies them by BOTH sides' group
    // sizes — on a low-cardinality dictionary that is corpus-scale output
    // (the sf0.1 part table holds 64 distinct names across 20k rows:
    // 659 key pairs expand to ~1.4M rows, measured 1.4 s in ONE task,
    // graft.tools.LinkAggAudit). Spreading the verified pairs before the
    // expansion keeps the fan-out parallel at any scale.
    val leftExpanded = verified.repartition(nPart, col("left_key"))
      .join(lk.select(col("id").as("left_id"), col("key").as("left_key")),
        "left_key")
    if (expandRight)
      leftExpanded
        .join(rk.select(col("id").as("right_id"), col("key").as("right_key")),
          "right_key")
        .select(col("left_id"), col("left_key"), col("right_id"),
          col("right_key"), col("dist"))
    else
      leftExpanded.select(col("left_id"), col("left_key"),
        col("rgid").as("right_rep_id"), col("right_key"), col("dist"))
  }

  /** STANDING deletion-variant index for [[pairsAgainst]]'s dictionary
    * side — the FIFTH write-once/serve-many tier (after exact keys, LSH
    * bands, eval 13-grams, PQ codes): a spell-correction / master-data
    * service freezes its dictionary for months while dirty batches
    * arrive, so the dictionary's distinct-key variant explosion — the
    * whole right half of the candidate join — persists once and every
    * batch reads it as a scan. Published under `dir`:
    * `postings` (gid, __len, __v) clustered by variant hash (the join
    * key, so file stats prune probes), `keys` (key, gid) for the verify
    * re-attach, `members` (id, key) for the id-level expansion.
    * The skew guard is baked at publish time (distinct keys only).
    */
  def writeVariantIndex(right: DataFrame, rightId: String, rightKey: String,
                        maxDist: Int, dir: String, numFiles: Int = 8): Unit = {
    val rk = right.select(col(rightId).as("id"), col(rightKey).as("key"))
      .filter(col("key").isNotNull)
    val rdk = rk.groupBy("key").agg(min(col("id")).as("gid"))
    val nPart = right.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    // same explode-fan-out pin as pairsAgainst (gid, not key)
    val postings = rdk.repartition(nPart, col("gid"))
      .withColumn("__len", length(col("key")))
      .select(col("gid"), col("__len"),
        explode(graft.functions.deletion_variant_hashes(col("key"), maxDist))
          .as("__v"))
    graft.sources.Layout.writeClustered(postings, s"$dir/postings",
      numFiles, "__v")
    rdk.write.mode("overwrite").parquet(s"$dir/keys")
    rk.write.mode("overwrite").parquet(s"$dir/members")
    import right.sparkSession.implicits._
    Seq(maxDist).toDF("max_dist").write.mode("overwrite")
      .parquet(s"$dir/meta")
  }

  /** [[pairsAgainst]] served from a persisted [[writeVariantIndex]]:
    * only the BATCH side explodes at query time; its variants join the
    * standing postings, and the verify/expansion read the persisted
    * keys/members tables. RESULT-IDENTICAL to pairsAgainst for the same
    * dictionary and the same `maxDist` (the caller's contract — a
    * smaller serve-time maxDist is also exact, since the length band
    * and verify tighten on it; a LARGER one would need postings the
    * index never generated and is the one misuse, so it is checked
    * against the persisted `max_dist` marker). Oracled as
    * q_dict_match_indexed with q_dict_match's own replay oracle —
    * equality proves the publish/serve roundtrip lossless.
    */
  def pairsAgainstIndex(left: DataFrame, leftId: String, leftKey: String,
                        maxDist: Int, indexDir: String): DataFrame =
    serveAgainstIndex(left, leftId, leftKey, maxDist, indexDir,
      expandRight = true)

  /** [[pairsAgainstIndex]] collapsed to KEY-level matches: one row per
    * (left_id, matched right KEY), the right side carried by its
    * REPRESENTATIVE member id (the index's gid = min right id per key)
    * instead of expanding to every member — output (left_id, left_key,
    * right_rep_id, right_key, dist). The verified key-pair set is
    * IDENTICAL to pairsAgainstIndex's (this skips only the right-
    * membership fan-out), so for consumers that need connectivity or a
    * canonical representative rather than every duplicate row —
    * component assignment ([[ConnectedComponents.incrementalAssign]]:
    * equal keys share a standing component, so an edge to the
    * representative reaches the whole group), correction-to-canonical —
    * the result is equivalent at a fraction of the rows on duplicate-
    * heavy dictionaries.
    */
  def repsAgainstIndex(left: DataFrame, leftId: String, leftKey: String,
                       maxDist: Int, indexDir: String): DataFrame =
    serveAgainstIndex(left, leftId, leftKey, maxDist, indexDir,
      expandRight = false)

  private def serveAgainstIndex(left: DataFrame, leftId: String,
                                leftKey: String, maxDist: Int,
                                indexDir: String,
                                expandRight: Boolean): DataFrame = {
    val spark = left.sparkSession
    val indexedDist = spark.read.parquet(s"$indexDir/meta")
      .head().getInt(0)
    require(maxDist <= indexedDist,
      s"index at $indexDir holds <=$indexedDist-deletion postings; " +
        s"serving maxDist=$maxDist would need variants it never generated")
    val (lk, ldk, lPost, nPart) = explodeLeft(left, leftId, leftKey, maxDist)
    matchAgainstPostings(lk, lPost, ldk,
      spark.read.parquet(s"$indexDir/postings"),
      spark.read.parquet(s"$indexDir/keys"),
      spark.read.parquet(s"$indexDir/members"), maxDist, nPart, expandRight)
  }

  /** Batch-side preparation shared by every index serve: keyed rows,
    * distinct keys (skew guard), and the pinned variant explode.
    */
  private def explodeLeft(left: DataFrame, leftId: String, leftKey: String,
                          maxDist: Int): (DataFrame, DataFrame, DataFrame, Int) = {
    val lk = left.select(col(leftId).as("id"), col(leftKey).as("key"))
      .filter(col("key").isNotNull)
    val ldk = lk.groupBy("key").agg(min(col("id")).as("gid"))
    val nPart = left.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    val lPost = ldk.repartition(nPart, col("gid"))
      .withColumn("__len", length(col("key")))
      .select(col("gid"), col("__len"),
        explode(graft.functions.deletion_variant_hashes(col("key"), maxDist))
          .as("__v"))
    (lk, ldk, lPost, nPart)
  }

  /** [[writeVariantIndex]] as BUCKETED catalog tables — the variant
    * tier's 100 TB layout ([[NearDup.writeBandIndexBucketed]] reasoning):
    * `<tablePrefix>_postings` bucketBy(__v) so the candidate equi-join
    * consumes the standing side's layout with NO index-side exchange
    * (only the batch's exploded variants shuffle to meet it),
    * `<tablePrefix>_keys` bucketBy(gid) for the verify re-attach,
    * `<tablePrefix>_members` bucketBy(key) for the id-level expansion —
    * and, unlike the flat layout, a shape that supports INCREMENTAL
    * publish ([[appendVariantIndexBucketed]]): bucketed appends keep the
    * bucket spec (Spark verifies it against the table), so the serve
    * join's no-shuffle property survives day-N appends. Files land under
    * `dir`; bucket metadata lives in the catalog. The pre-write
    * repartition on each bucket column yields one file per bucket.
    */
  def writeVariantIndexBucketed(right: DataFrame, rightId: String,
                                rightKey: String, maxDist: Int, dir: String,
                                tablePrefix: String,
                                numBuckets: Int = 8): Unit = {
    val rk = right.select(col(rightId).as("id"), col(rightKey).as("key"))
      .filter(col("key").isNotNull)
    val rdk = rk.groupBy("key").agg(min(col("id")).as("gid"))
    val nPart = right.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    // same explode-fan-out pin as writeVariantIndex (gid, not key); the
    // bucket repartition AFTER the explode is the write-side layout, so
    // the neighborhood expansion still computes at nPart parallelism
    rdk.repartition(nPart, col("gid"))
      .withColumn("__len", length(col("key")))
      .select(col("gid"), col("__len"),
        explode(graft.functions.deletion_variant_hashes(col("key"), maxDist))
          .as("__v"))
      .repartition(numBuckets, col("__v"))
      .write.mode("overwrite").format("parquet")
      .bucketBy(numBuckets, "__v").sortBy("__v")
      .option("path", s"$dir/postings").saveAsTable(s"${tablePrefix}_postings")
    rdk.repartition(numBuckets, col("gid"))
      .write.mode("overwrite").format("parquet")
      .bucketBy(numBuckets, "gid").sortBy("gid")
      .option("path", s"$dir/keys").saveAsTable(s"${tablePrefix}_keys")
    rk.repartition(numBuckets, col("key"))
      .write.mode("overwrite").format("parquet")
      .bucketBy(numBuckets, "key").sortBy("key")
      .option("path", s"$dir/members").saveAsTable(s"${tablePrefix}_members")
    import right.sparkSession.implicits._
    Seq(maxDist).toDF("max_dist").write.mode("overwrite").format("parquet")
      .option("path", s"$dir/meta").saveAsTable(s"${tablePrefix}_meta")
  }

  /** INCREMENTAL PUBLISH for the variant tier — the verb that closes the
    * CC lifecycle's day-N loop: after [[ConnectedComponents
    * .mergeRepublish]] folds a served batch into the standing LABELS,
    * tomorrow's serve also needs the batch's NAMES in the variant index,
    * and until this verb existed the only way to get them there was a
    * full [[writeVariantIndex]] over the grown corpus — the corpus-scan
    * publish the tier exists to amortize. This appends the batch's
    * slice of each index table instead (cost tracks the batch, never
    * the corpus), under the tables' own bucket specs, so the serve
    * contract survives unchanged.
    *
    * Per-table semantics (what keeps append ≡ rebuild):
    *  - `members` gets EVERY batch row — ids must be NEW (the same
    *    contract as [[NearDup.appendBandIndexBucketed]]: exact dedup
    *    upstream owns identity; a re-appended id would duplicate its
    *    matches);
    *  - `keys`/`postings` get only the batch's NOVEL keys
    *    ([[novelKeysAgainstMembers]] — an anti join against the
    *    KEY-BUCKETED members table, so the standing side is a bucketed
    *    scan with no exchange and no broadcast): these tables are
    *    per-DISTINCT-key by the skew-guard construction, and a second
    *    (key, gid) row for an existing key would double every one of
    *    that key's matches downstream. The novel set is eagerly
    *    materialized BEFORE any table is appended — the anti join reads
    *    members, so appending members first would make every batch key
    *    look standing and silently skip the keys/postings writes.
    *
    * Exactness vs [[writeVariantIndexBucketed]] over corpus ∪ batch:
    * id-level serve output ([[pairsAgainstIndexBucketed]]) is IDENTICAL
    * — gids never reach it (parity-spec'd in EditDistanceJoinSpec;
    * q_dict_match_appended shares the monolithic oracle). The reps form
    * ([[repsAgainstIndexBucketed]]) exposes gids as `right_rep_id`: a
    * novel key's gid (min batch id) equals the monolithic one, and an
    * existing key keeps its standing gid — which differs from a
    * monolithic rebuild only when a batch id undercuts that key's
    * standing minimum (day-N batches normally carry larger ids). Either
    * way the rep is a true member of the key's group, so connectivity
    * consumers ([[ConnectedComponents.incrementalAssign]]) are exact
    * regardless.
    */
  def appendVariantIndexBucketed(batch: DataFrame, idCol: String,
                                 keyCol: String, tablePrefix: String): Unit = {
    val spark = batch.sparkSession
    val maxDist = spark.table(s"${tablePrefix}_meta").head().getInt(0)
    // bucket counts come from the TABLES, not a parameter — the appended
    // files must carry each table's publish-time spec whatever it was
    def buckets(t: String): Int =
      graft.sources.Layout.bucketCountOf(spark, s"${tablePrefix}_$t")
    val bk = batch.select(col(idCol).as("id"), col(keyCol).as("key"))
      .filter(col("key").isNotNull)
    // Novelty is PINNED before any table mutates: the anti join reads
    // `members`, and appending members first would make every batch key
    // look standing (nothing novel -> postings silently skipped).
    val novel = novelKeysAgainstMembers(bk, tablePrefix)
      .localCheckpoint(true)
    val mB = buckets("members")
    bk.repartition(mB, col("key"))
      .write.mode("append").format("parquet")
      .bucketBy(mB, "key").sortBy("key")
      .saveAsTable(s"${tablePrefix}_members")
    val kB = buckets("keys")
    novel.repartition(kB, col("gid"))
      .write.mode("append").format("parquet")
      .bucketBy(kB, "gid").sortBy("gid")
      .saveAsTable(s"${tablePrefix}_keys")
    val nPart = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val pB = buckets("postings")
    novel.repartition(nPart, col("gid"))
      .withColumn("__len", length(col("key")))
      .select(col("gid"), col("__len"),
        explode(graft.functions.deletion_variant_hashes(col("key"), maxDist))
          .as("__v"))
      .repartition(pB, col("__v"))
      .write.mode("append").format("parquet")
      .bucketBy(pB, "__v").sortBy("__v")
      .saveAsTable(s"${tablePrefix}_postings")
  }

  /** The append's novelty check, shaped for the standing side: the
    * batch's distinct keys anti-joined against the `members` table —
    * NOT `keys` — because members is bucketed BY KEY, so the standing
    * side contributes a bucketed column scan with no exchange and no
    * broadcast (an anti join against the gid-bucketed keys table would
    * have to re-shuffle — or, under AQE at fixture sizes, BROADCAST —
    * the entire standing key set on every nightly append; at corpus
    * scale either is the corpus-sized work the append verb exists to
    * avoid). members holds one row per corpus row rather than per
    * distinct key, but a bucketed single-column scan is a strictly
    * cheaper posture than any corpus shuffle. The merge hint rides the
    * members side: a LeftAnti join can only broadcast its RIGHT side,
    * and without the pin AQE broadcasts fixture-sized members tables —
    * the exact plan that dies when members is corpus-sized; under the
    * hint the join is a sort-merge whose members side sorts within its
    * buckets and never exchanges (asserted via the no-BroadcastExchange
    * plan check in EditDistanceJoinSpec — with LeftAnti, any broadcast
    * would necessarily be the members side). Duplicate right-side keys
    * are harmless to left_anti semantics.
    */
  private[graft] def novelKeysAgainstMembers(bk: DataFrame,
                                             tablePrefix: String): DataFrame =
    bk.groupBy("key").agg(min(col("id")).as("gid"))
      .join(bk.sparkSession.table(s"${tablePrefix}_members")
          .select("key").hint("merge"),
        Seq("key"), "left_anti")

  /** COMPACTION for the variant tier's bucketed tables — the fourth
    * lifecycle verb alongside [[writeVariantIndexBucketed]] (publish),
    * [[pairsAgainstIndexBucketed]] (serve) and
    * [[appendVariantIndexBucketed]] (append): N daily appends leave N
    * file sets per bucket; this rewrites postings/keys/members in place
    * under their own catalog bucket specs
    * ([[graft.sources.Layout.compactBucketed]]), serve-identical
    * before/after. The meta table never grows, so it is left alone.
    * Returns files per table after compaction (postings, keys, members).
    */
  def compactVariantIndexBucketed(spark: org.apache.spark.sql.SparkSession,
                                  tablePrefix: String): (Int, Int, Int) =
    (graft.sources.Layout.compactBucketed(spark, s"${tablePrefix}_postings"),
     graft.sources.Layout.compactBucketed(spark, s"${tablePrefix}_keys"),
     graft.sources.Layout.compactBucketed(spark, s"${tablePrefix}_members"))

  /** The compaction POLICY over this tier's three tables — the
    * multi-table twin of
    * [[graft.sources.Layout.compactBucketedIfNeeded]]: one nightly call
    * per tier. Each table decides on its own files-per-bucket depth
    * (appends write one file set per table per batch, but a batch can
    * miss buckets in one table and not another, so depths drift apart).
    * Returns per-table Some(fileCountAfter)/None:
    * (postings, keys, members).
    */
  def compactVariantIndexBucketedIfNeeded(
      spark: org.apache.spark.sql.SparkSession, tablePrefix: String,
      maxFilesPerBucket: Int = 16): (Option[Int], Option[Int], Option[Int]) =
    (graft.sources.Layout.compactBucketedIfNeeded(
       spark, s"${tablePrefix}_postings", maxFilesPerBucket),
     graft.sources.Layout.compactBucketedIfNeeded(
       spark, s"${tablePrefix}_keys", maxFilesPerBucket),
     graft.sources.Layout.compactBucketedIfNeeded(
       spark, s"${tablePrefix}_members", maxFilesPerBucket))

  /** [[pairsAgainstIndex]] served from the BUCKETED tables
    * ([[writeVariantIndexBucketed]], possibly grown by
    * [[appendVariantIndexBucketed]]): result-identical, but the
    * candidate join consumes the postings' bucket layout — no
    * index-side shuffle (plan-asserted in EditDistanceJoinSpec).
    */
  def pairsAgainstIndexBucketed(left: DataFrame, leftId: String,
                                leftKey: String, maxDist: Int,
                                tablePrefix: String): DataFrame =
    serveAgainstTables(left, leftId, leftKey, maxDist, tablePrefix,
      expandRight = true)

  /** [[repsAgainstIndex]] over the bucketed tables — see
    * [[appendVariantIndexBucketed]] for the rep-id note under appends.
    */
  def repsAgainstIndexBucketed(left: DataFrame, leftId: String,
                               leftKey: String, maxDist: Int,
                               tablePrefix: String): DataFrame =
    serveAgainstTables(left, leftId, leftKey, maxDist, tablePrefix,
      expandRight = false)

  private def serveAgainstTables(left: DataFrame, leftId: String,
                                 leftKey: String, maxDist: Int,
                                 tablePrefix: String,
                                 expandRight: Boolean): DataFrame = {
    val spark = left.sparkSession
    val indexedDist = spark.table(s"${tablePrefix}_meta").head().getInt(0)
    require(maxDist <= indexedDist,
      s"index tables $tablePrefix hold <=$indexedDist-deletion postings; " +
        s"serving maxDist=$maxDist would need variants they never generated")
    val (lk, ldk, lPost, nPart) = explodeLeft(left, leftId, leftKey, maxDist)
    matchAgainstPostings(lk, lPost, ldk,
      spark.table(s"${tablePrefix}_postings"),
      spark.table(s"${tablePrefix}_keys"),
      spark.table(s"${tablePrefix}_members"), maxDist, nPart, expandRight)
  }

  /** Winner policy over [[pairsAgainst]]: ONE canonical dictionary entry
    * per matched left row — minimum distance, ties broken by minimum
    * right_id, so the correction is deterministic (the master-data ending
    * the reference's canonicalization reaches for: soulutionOne.py:13–18
    * picks one `equalName` survivor; at dictionary scale the analogous
    * decision is "this dirty row corrects to exactly this entry").
    * Left rows matching nothing within maxDist emit no row — the caller's
    * unmatched queue is a left_anti join away.
    *
    * The winner is picked with a single hash aggregate (min_by over a
    * (dist, right_id) struct — lexicographic struct ordering IS the
    * policy), not a row_number window: a window must sort every
    * partition's candidate list, while min_by folds them in one pass with
    * map-side partial aggregation — cheaper and shuffle-equivalent at
    * 100 TB. Grouping carries left_key alongside left_id (functionally
    * dependent; ids are unique by [[pairsAgainst]]'s contract).
    */
  def bestAgainst(left: DataFrame, leftId: String, leftKey: String,
                  right: DataFrame, rightId: String, rightKey: String,
                  maxDist: Int): DataFrame =
    pairsAgainst(left, leftId, leftKey, right, rightId, rightKey, maxDist)
      .groupBy("left_id", "left_key")
      .agg(min_by(
        struct(col("right_id"), col("right_key"), col("dist")),
        struct(col("dist"), col("right_id"))).as("__w"))
      .select(col("left_id"), col("left_key"), col("__w.right_id"),
        col("__w.right_key"), col("__w.dist"))

  /** Matched pairs (id_a, key_a, id_b, key_b) with lev(key_a, key_b) <= maxDist.
    * Reflexive pairs included unless includeSelf=false (then id_a != id_b).
    * `df` must have unique values in idCol.
    */
  def pairs(df: DataFrame, idCol: String, keyCol: String, maxDist: Int,
            strategy: Strategy = DeletionNeighborhood,
            includeSelf: Boolean = true): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(keyCol).as("key"))
    val joined = strategy match {
      case Naive =>
        base.as("a").join(base.as("b"),
            levenshtein(col("a.key"), col("b.key")) <= maxDist)
          .select(col("a.id").as("id_a"), col("a.key").as("key_a"),
                  col("b.id").as("id_b"), col("b.key").as("key_b"))

      case DeletionNeighborhood =>
        val half = halfIdPairs(base, maxDist)
        // Rebuild full directed semantics in ONE pass over `half` (a plain
        // `half union half.mirror` would execute the join twice — measured
        // 2x wall time): explode each undirected pair into both directions,
        // then synthesize the reflexive pairs (distance 0 by definition).
        val both = half.select(explode(array(
            struct(col("id_a"), col("key_a"), col("id_b"), col("key_b")),
            struct(col("id_b").as("id_a"), col("key_b").as("key_a"),
                   col("id_a").as("id_b"), col("key_a").as("key_b")))).as("p"))
          .select(col("p.id_a").as("id_a"), col("p.key_a").as("key_a"),
                  col("p.id_b").as("id_b"), col("p.key_b").as("key_b"))
        both.union(base.filter(col("key").isNotNull)
          .select(col("id").as("id_a"), col("key").as("key_a"),
            col("id").as("id_b"), col("key").as("key_b")))
    }
    if (includeSelf) joined else joined.filter(col("id_a") =!= col("id_b"))
  }

  /** solutionThree.py:23 shape: per left id, the aggregated list of linked
    * counterparts — made deterministic with sort_array + concat_ws (the
    * reference's raw collect_list order is partition-dependent; a CSV sink
    * also can't hold array<struct>, SURVEY §1.1).
    *
    * The aggregate needs only (id_a, key_b), which the verified pair set
    * already carries — the directed expansion projects it straight out of
    * `half` with no further key join.
    */
  def linkedAggregate(df: DataFrame, idCol: String, keyCol: String, maxDist: Int,
                      strategy: Strategy = DeletionNeighborhood): DataFrame = {
    def agg(pairs: DataFrame): DataFrame = pairs
      .groupBy(col("id_a").as(idCol))
      .agg(
        count(lit(1)).as("n_linked"),
        concat_ws(",", sort_array(collect_list(col("key_b")))).as("linked_keys"))
    strategy match {
      case Naive =>
        agg(pairs(df, idCol, keyCol, maxDist, Naive))
      case DeletionNeighborhood =>
        val base = df.select(col(idCol).as("id"), col(keyCol).as("key"))
        val directed = halfIdPairs(base, maxDist)
          .select(explode(array(
            struct(col("id_a"), col("key_b")),
            struct(col("id_b").as("id_a"), col("key_a").as("key_b")))).as("p"))
          .select(col("p.id_a").as("id_a"), col("p.key_b").as("key_b"))
          .union(base.filter(col("key").isNotNull)
            .select(col("id").as("id_a"), col("key").as("key_b")))
        agg(directed)
    }
  }
}
