package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over an undirected edge list, using the
  * alternating large-star / small-star algorithm (Kiveris et al., "Connected
  * Components in MapReduce and Beyond", SoCC'14 — public literature; no
  * GraphX dependency). This is the principled, order-free replacement for
  * the reference's greedy driver-side clustering ([[GreedyCluster]]): edges
  * come from any similarity join, components are identified by their
  * minimum member id.
  *
  * Scale properties: every round is hash-shuffle `groupBy(min)` + equi-join
  * — linear data movement, no driver materialization, converges in
  * O(log n) rounds even on path graphs (where plain min-label propagation
  * needs O(diameter)). Per-round `localCheckpoint` truncates lineage so the
  * plan doesn't grow exponentially. At 100 TB the edge list is the only
  * state, and star centers are load-balanced by the large-star step.
  */
object ConnectedComponents {

  /** The star steps' long-ids contract, checked at entry: their output
    * structs are typed struct<s:bigint,d:bigint>, so other id types would
    * surface as an opaque concat type mismatch instead.
    */
  private def requireLongIds(e: DataFrame, step: String): Unit = {
    val types = Seq("src", "dst").map(c =>
      c -> e.schema.find(_.name == c).map(_.dataType.catalogString))
    require(types.forall(_._2.contains("bigint")),
      s"ConnectedComponents.$step: vertex ids must be bigint (the " +
        "long-ids contract; cast src/dst to long before the star steps), got " +
        types.map { case (c, t) => s"$c: ${t.getOrElse("missing")}" }
          .mkString(", "))
  }

  /** Both star steps hold a LOOP INVARIANT (round 18): every edge frame
    * entering a star step is NORMALIZED (src > dst on every row), and
    * both steps' OUTPUT rows are again normalized (each emitted row is
    * (x, m) with m < x — m is a min over a set containing something
    * smaller than x). Duplicate ROWS (not mis-oriented ones) may flow
    * between the steps — harmless to every min aggregate and to the
    * emitted edge SET; the one set-semantics consumer (the convergence
    * signature) sits behind [[smallStar]]'s retained output `distinct`.
    *
    * ROUND 19 (guide §2.4 "remove shuffles outright"): each star step is
    * ONE window aggregation instead of groupBy(min) + join. The round-18
    * agg+join form planned a genuinely shared exchange, but the executed
    * plan never shared it: the post-join `dst > src` filter is pushed
    * through the repartition into the join-probe subtree (differentiating
    * it from the aggregate's child), and `m` is consumed twice (join
    * build side + the union's m-branch) — so one round really ran ~8
    * shuffles + 3 broadcast builds (CcPlanProbe, executed plan, 8 jobs a
    * round). With `min(dst) over (partition by src)` the step needs ONE
    * hash(src) exchange, no join and no broadcast: both output branches
    * read the identical window subtree (their filters reference
    * non-partition columns, so they cannot be pushed below the window,
    * and the identical subtrees reuse one materialized stage), and the
    * window's ENSURE_REQUIREMENTS exchange stays AQE-coalescible
    * (scale-adaptive, guide §2). Per round: 3 exchanges total (two
    * window exchanges + the output distinct), 0 broadcasts. Shuffle
    * bytes at scale drop too: the agg+join form re-shuffled the
    * symmetrized frame for the probe AND (partially aggregated) for each
    * m consumer. Skew posture is unchanged — the old join probe already
    * placed every row of a hot src in one partition; the window buffer
    * spills via ExternalAppendOnlyUnsafeRowBuffer.
    *
    * Labels are bit-identical: every round's OUTPUT SET is unchanged
    * (branch 1 emits exactly the old join branch's rows; branch 2 emits
    * (src, m) exactly for the srcs the old m-branch emitted, duplicates
    * tolerated as before). ClusterSpec + the five q_cluster_cc* oracle
    * rows pin it.
    */
  private[graft] def largeStar(e: DataFrame): DataFrame = {
    requireLongIds(e, "largeStar")
    // invariant: e rows satisfy src > dst, so the two union halves are
    // disjoint orientations — no distinct exchange needed to symmetrize
    val sym = e.select(col("src"), col("dst"))
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("src")
    // m(u) = min(u, min neighbor); mn kept so the m-branch can emit one
    // (src, m) per src without a second aggregate (rows achieving the
    // min — duplicates are tolerated downstream)
    // ONE pass over the window output: a union of two filtered branches
    // would re-read the (reused) exchange and re-run Sort+Window once per
    // branch — the conditional explode emits both branches' rows from a
    // single window evaluation instead (codegen generator, 0–2 structs a
    // row; explode drops empty arrays).
    val ann = sym.select(col("src"), col("dst"),
      min(col("dst")).over(w).as("mn"))
    val m = least(col("src"), col("mn"))
    ann.select(explode(concat(
        when(col("dst") > col("src"),
          array(struct(col("dst").as("s"), m.as("d"))))
          .otherwise(array().cast("array<struct<s:bigint,d:bigint>>")),
        when(col("dst") === col("mn"),
          array(struct(col("src").as("s"), m.as("d"))))
          .otherwise(array().cast("array<struct<s:bigint,d:bigint>>"))))
        .as("p"))
      .select(col("p.s").as("src"), col("p.d").as("dst"))
      .where(col("src") =!= col("dst"))
    // no output distinct: every emitted row has src > dst (m < the node it
    // labels), duplicates are tolerated by smallStar and removed by its
    // canonical output distinct before the signature reads the round
  }

  private[graft] def smallStar(e: DataFrame): DataFrame = {
    requireLongIds(e, "smallStar")
    // invariant: input rows already satisfy src > dst (largeStar output or
    // the normalized initial frame) — no re-orientation; min(dst) < src
    // outright, so no least() with src is needed. Same one-window-exchange
    // shape as largeStar.
    val w = org.apache.spark.sql.expressions.Window.partitionBy("src")
    // same one-pass conditional explode as largeStar (one Sort+Window
    // evaluation, no union re-read)
    val ann = e.select(col("src"), col("dst"),
      min(col("dst")).over(w).as("m"))
    ann.select(explode(concat(
        array(struct(col("dst").as("s"), col("m").as("d"))),
        when(col("dst") === col("m"),
          array(struct(col("src").as("s"), col("m").as("d"))))
          .otherwise(array().cast("array<struct<s:bigint,d:bigint>>"))))
        .as("p"))
      .select(col("p.s").as("src"), col("p.d").as("dst"))
      .where(col("src") =!= col("dst"))
      // the round's one canonicalizing exchange: the signature compares
      // SETS, and the checkpoint that feeds the next round stays compact
      .distinct()
  }

  /** Eagerly checkpoint an edge frame and return it together with its
    * order-insensitive signature (row count + bit_xor of row hashes), for
    * convergence detection without an expensive `except`. The signature
    * rides the checkpoint's own materialization job as observed metrics
    * (CollectMetrics accumulators — optimization round 19): the previous
    * lazy-checkpoint + separate aggregate action re-ran a partial-agg,
    * a single-partition exchange and a collect job per round; this form
    * computes the identical (n, h) inside the materializing pass (probed:
    * 3 jobs → 2 per round-frame, identical values). bit_xor is
    * order-insensitive and cannot overflow under ANSI mode (unlike sum,
    * which throws on long overflow in Spark 4).
    */
  private def checkpointWithSignature(e: DataFrame): (DataFrame, (Long, Long)) = {
    val obs = org.apache.spark.sql.Observation()
    val cp = e.observe(obs,
        count(lit(1)).as("n"),
        coalesce(bit_xor(xxhash64(col("src"), col("dst"))), lit(0L)).as("h"))
      .localCheckpoint(true)
    val row = obs.get
    (cp, (row("n").asInstanceOf[Long], row("h").asInstanceOf[Long]))
  }

  /** vertices: single column `id`; edges: columns `src`, `dst` (long ids,
    * undirected, self-loops/duplicates tolerated). Returns (id, component)
    * where component is the minimum id in the vertex's component.
    */
  def run(vertices: DataFrame, edges: DataFrame, maxIter: Int = 25): DataFrame = {
    // ONE action per round (checkpointWithSignature): the convergence
    // signature rides the checkpoint's materialization as observed
    // metrics, so a round costs exactly its own exchanges plus one
    // result job — no separate aggregate action, no single-partition
    // signature exchange. The signature's count also answers the
    // initial is-empty question, so that separate action is gone too.
    // Normalize to src > dst BEFORE the loop — the star steps' invariant
    // (see largeStar). Same distinct exchange as before (mirrored pairs now
    // collapse here instead of inside round 1's symmetrize), same labels.
    var (e, sig) = checkpointWithSignature(edges.select(
        greatest(col("src").cast("long"), col("dst").cast("long")).as("src"),
        least(col("src").cast("long"), col("dst").cast("long")).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct())
    var converged = sig._1 == 0L
    var it = 0
    while (!converged && it < maxIter) {
      val (cp, next) = checkpointWithSignature(smallStar(largeStar(e)))
      e = cp
      converged = next == sig
      sig = next
      it += 1
    }
    require(converged, s"connected components did not converge in $maxIter rounds")
    // After convergence e is (member -> root) stars; isolated vertices map
    // to themselves.
    val ids = vertices.select(col("id").cast("long").as("id"))
    ids.join(e.select(col("src").as("id"), col("dst").as("comp")), Seq("id"), "left")
      .groupBy("id")
      .agg(min(col("comp")).as("mc"))
      .select(col("id"), coalesce(col("mc"), col("id")).as("component"))
  }

  /** INCREMENTAL component assignment — the serve half of a standing
    * CC tier: a daily batch of new documents is labeled against frozen
    * component labels WITHOUT recomputing the corpus. The corpus's
    * internal connectivity is already condensed into its labels, so the
    * batch runs CC over the CONDENSED graph only: endpoints of batch
    * edges that hit standing members are replaced by their component
    * label (supernodes), then [[run]] executes over batch ids +
    * touched supernodes — cost scales with the batch and the components
    * it touches, never with the corpus (MEASURED: ScaleProbe
    * cc_assign_serve holds the batch fixed and grows the standing
    * corpus 4x/10x — serve time ratios 0.75x/0.82x post-pin (0.91x/1.02x pre-pin), flat; the full
    * recompute at the same sizes costs 1.5x more at 3:1 corpus:batch
    * and 3.3x more at 30:1).
    *
    * EXACTNESS vs a full recompute (min labels are associative): a
    * batch doc's full-graph component is batch members plus whole
    * standing components (standing edges never cross components), and
    * min(all members) = min(per-standing-component minima ∪ batch ids)
    * = min over condensed node ids — so the returned labels EQUAL what
    * [[run]] over the full graph would produce (parity-spec'd, and
    * q_cluster_cc_incremental's oracle IS the full-graph closure).
    *
    * Inputs: `standing` = (id, component) from a prior [[run]] over the
    * corpus — labels MUST be component-minimum member ids (exactly
    * [[run]]'s output; any other labeling, e.g. stable surrogate ids
    * from a relabeling pass, breaks exactness because raw batch ids are
    * compared against label values as minima. A `label <= id` guard is
    * folded into the condense join as a PARTIAL defense: it raises on
    * the first edge-touched standing row whose label EXCEEDS its id —
    * which catches surrogate-id labelings in practice — but a frame
    * whose labels satisfy label <= id without being true component
    * minima, e.g. component {5,6} labeled 4, passes the guard and
    * yields wrong components; the contract itself is the caller's to
    * honor); `batchVerts` = (id);
    * `batchEdges` = (src, dst) where at
    * least one endpoint is a batch id (pair the batch against the
    * corpus's standing variant/band index to get these without a corpus
    * scan — [[EditDistanceJoin.pairsAgainstIndex]],
    * [[NearDup.incrementalNearDupPairsBucketed]]). Returns (id,
    * component) for the batch ids. Merged standing components are
    * visible to the caller as rows of the SAME output where a batch id
    * bridged them — a standing label L that merged downward appears as
    * the batch rows' smaller component value; corpus-side relabeling is
    * [[mergeRepublish]]'s job (the nightly re-publish), not the serve
    * path's.
    */
  def incrementalAssign(standing: DataFrame, batchVerts: DataFrame,
                        batchEdges: DataFrame): DataFrame = {
    val cc = condensedCc(standing, batchEdges)
    batchVerts.select(col("id").cast("long").as("id"))
      .join(cc, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** CC over the CONDENSED graph (batch ids + standing component labels
    * touched by `batchEdges`) — the shared core of [[incrementalAssign]]
    * (serve: read off the batch ids) and [[mergeRepublish]] (re-publish:
    * read off the standing labels). Returns (id, component) for every
    * condensed node. The min-label standing contract gets a partial
    * runtime check here: `assert_true(label <= id)` rides inside the
    * condensed endpoint expression, so it cannot be pruned and costs one
    * comparison per matched edge endpoint — it flags label > id on
    * edge-touched rows only (see [[incrementalAssign]]'s contract note
    * for what it cannot catch).
    */
  private def condensedCc(standing: DataFrame,
                          batchEdges: DataFrame): DataFrame = {
    val lab = standing.select(col("id").cast("long").as("__sid"),
      col("component").cast("long").as("__slabel"))
    def condense(e: DataFrame, end: String): DataFrame =
      e.join(lab, e(end) === col("__sid"), "left")
        // coalesce(assert_true(..), label): assert_true is NULL whenever
        // the check passes, so the coalesce evaluates to the label and
        // the guard survives column pruning. It fails loudly on the
        // detectable half of contract violations (label > id on an
        // edge-touched row — the surrogate-id mistake); label <= id
        // non-minimum labelings are undetectable per-row and stay the
        // caller's contract.
        .withColumn(end, coalesce(
          assert_true(col("__slabel").isNull || col("__slabel") <= col("__sid"),
            lit("incrementalAssign/mergeRepublish require min-label standing " +
              "components (label = min member id, ConnectedComponents.run's " +
              "output); found label > id")),
          col("__slabel"), col(end)))
        .drop("__sid", "__slabel")
    // PIN the condensed edges before handing them to run(): ce is
    // consumed at least twice per action — once as run()'s initial edge
    // frame and once through the vertex derivation below (run()
    // materializes `ids` in its final join) — and every UN-pinned
    // evaluation re-runs the whole upstream edge pipeline (the batch's
    // candidate join against the standing index) plus both condense
    // joins against the standing labels. ce is batch-bounded by the
    // serve contract (≤ |batchEdges| rows, condense is 1:1), so the
    // eager materialization is batch-scale; what it removes is
    // re-evaluation work whose cost is box-state-dependent (the
    // q_cluster_cc_incremental driver-window inflation — README noise
    // log, round 15, before/after stage profiles).
    val ce = condense(condense(
      batchEdges.select(col("src").cast("long"), col("dst").cast("long")),
      "src"), "dst").localCheckpoint(true)
    val verts = ce.select(col("src").as("id"))
      .unionByName(ce.select(col("dst").as("id")))
      .distinct()
    run(verts, ce)
  }

  /** NIGHTLY RE-PUBLISH — the write half that completes the standing-CC
    * write-once/serve-many story: fold a served batch into the standing
    * labels, relabeling every standing component a batch id bridged, and
    * emit the NEW standing frame over corpus ∪ batch ids.
    *
    * Mechanics: rerun the condensed CC ([[condensedCc]] — the same graph
    * the serve ran, batch ids + touched supernodes), then (a) standing
    * rows join their component label against the condensed labels — a
    * label that merged downward carries its whole component to the new
    * minimum, an untouched label misses the join and keeps its rows
    * verbatim; (b) batch rows take their condensed label directly
    * ([[incrementalAssign]]'s own output). Cost therefore scales with
    * the batch for the CC part and ONE corpus-linear equi-join on the
    * label column for the relabel — never a corpus re-pairing.
    *
    * EXACTNESS: the full graph's components are whole standing
    * components plus batch ids; min labels are associative, so
    * min(full component) = min(condensed node ids) — each standing
    * member's new label is its old label's condensed component, which is
    * exactly what (a) computes. Output therefore EQUALS [[run]] over
    * corpus + batch (parity-spec'd including the fixpoint
    * serve → republish → serve ≡ one big run; oracled as
    * q_cluster_cc_republish with the full-graph recursive closure).
    * The output is again min-labeled, so it is a valid `standing` for
    * the next day's serve.
    */
  def mergeRepublish(standing: DataFrame, batchVerts: DataFrame,
                     batchEdges: DataFrame): DataFrame = {
    val cc = condensedCc(standing, batchEdges)
    val relabeled = standing
      .select(col("id").cast("long").as("id"),
        col("component").cast("long").as("component"))
      .join(cc.select(col("id").as("component"),
        col("component").as("__new")), Seq("component"), "left")
      .select(col("id"), coalesce(col("__new"), col("component")).as("component"))
    val batchAssigned = batchVerts.select(col("id").cast("long").as("id"))
      .join(cc, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
    relabeled.unionByName(batchAssigned)
  }

  /** Cluster-size distribution of a component assignment — the dedup
    * audit that says where the duplicate mass sits (a corpus where 1% of
    * clusters hold 50% of docs needs the survivorship policy reviewed; a
    * flat histogram says dedup is mostly exact-singleton noise). One row
    * per observed size: (cluster_size, n_clusters). Two map-side-
    * combinable hash aggregates — component keys then size keys, both
    * corpus-linear.
    */
  def sizeHistogram(comp: DataFrame,
                    componentCol: String = "component"): DataFrame =
    comp.groupBy(col(componentCol)).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
}
