package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list — the step that
  * turns near-duplicate PAIRS (MinHash/SimHash/embedding output) into
  * duplicate CLUSTERS so a pipeline can keep exactly one representative
  * per cluster. Reference intent: the reference dedups per-key only
  * (load_fact.py DELETE-then-INSERT); pair-to-cluster resolution is the
  * north-star extension that makes near-dup output actionable.
  *
  * Algorithm: iterative min-label propagation with pointer-jumping over
  * an ACTIVE-SET (frontier). Each round, only the labels that changed
  * last round propagate: neighbors of frontier vertices take the min of
  * the offered labels, and vertices whose label POINTS INTO the frontier
  * take the frontier's new label (path compression). Neighbor-min alone
  * converges in O(diameter) rounds; the jump step compresses chains so
  * convergence is O(log diameter) — the behavior of the published
  * large-star/small-star MapReduce formulation (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14), whose
  * active-set refinement this implements.
  *
  * Frontier correctness: whenever a vertex's label decreases it enters
  * the frontier and is re-offered to ALL its neighbors and pointers next
  * round, so by induction every edge (u,v) has evaluated
  * least(comp(u), comp(v)) at v's post-change round; labels are
  * monotone non-increasing, so an empty frontier certifies the global
  * fixpoint (per-component constant = the component min).
  *
  * Scale design:
  *  - the edge list is symmetrized once, deduplicated, and
  *    materialized — every round re-joins against the SAME edges, so
  *    an expensive upstream pair producer (the whole MinHash pipeline)
  *    runs exactly once;
  *  - round 1 touches every vertex (all labels just initialized); from
  *    round 2 on the edge join probes ONLY frontier labels — and the
  *    frontier shrinks geometrically, so it is broadcast once its
  *    materialized count fits (`broadcastFrontierRows`), making late
  *    rounds shuffle-free scans of the edge list. Without the active
  *    set, every round re-shuffled edges against ALL |V| labels (the
  *    r06 scale drill's 12.7× datapoint at 10× rows);
  *  - the full label table is still merged once per round, but that is
  *    one hash join of (long, long) rows against the tiny frontier —
  *    uniform keys, no driver-side state;
  *  - duplicate clusters in a real corpus are small (a handful of
  *    mirrors of one document), so diameters are tiny and the loop
  *    exits after 2-3 rounds; the iteration cap is a runaway guard for
  *    adversarial chain graphs, not the expected path;
  *  - the per-round convergence probe is a count of the just-
  *    materialized frontier blocks. An iterative fixpoint cannot be
  *    expressed as one static Catalyst plan (no recursion in Spark
  *    SQL), so driver-side loop control is inherent here — unlike a
  *    scalar total that belongs in the plan (see n26), each action
  *    decides whether another round is needed at all. This is how
  *    GraphX/GraphFrames CC works too.
  */
object DedupClusters {

  /** Resolve components of the graph formed by `edges`.
    *
    * @param edges  one row per undirected edge (duplicate and reversed
    *               rows are fine — the input is symmetrized+deduped)
    * @param srcCol long-compatible vertex column
    * @param dstCol long-compatible vertex column
    * @param roundHook telemetry callback `(round, frontierRows,
    *               roundSeconds)` fired once per completed round — the
    *               scale drills use it to report frontier decay; the
    *               default is a no-op and costs nothing
    * @return (id, component): one row per vertex that appears in any
    *         edge; `component` is the minimum vertex id reachable from
    *         `id` (a canonical, deterministic cluster representative).
    */
  def components(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIter: Int = 25,
      reliableCheckpointDir: Option[String] = None,
      broadcastFrontierRows: Long = 4000000L,
      pointerDoubling: Boolean = true,
      smallGraphEdgeRows: Long = 4000000L,
      roundHook: (Int, Long, Double) => Unit = (_, _, _) => ()): DataFrame = {
    val e = edges.select(
      col(srcCol).cast("long").as("u"),
      col(dstCol).cast("long").as("v"))
    // localCheckpoint (eager), not persist: each round's labels feed
    // three joins in the NEXT round, so without truncation the logical
    // plan doubles every iteration and analyzer/optimizer time grows
    // exponentially — the classic Spark iterative-algorithm trap
    // (GraphX/GraphFrames checkpoint for the same reason). After the
    // checkpoint every round plans against a fresh leaf relation. A
    // fault-tolerant deployment passes `reliableCheckpointDir` (tested
    // code path, see DedupClustersSpec); the content (label pairs) is
    // tiny relative to the corpus either way.
    //
    // Superseded rounds are unpersisted EAGERLY (GraphX does the same):
    // checkpoint blocks are only reclaimed by driver GC + ContextCleaner
    // otherwise, so a long run would pin O(rounds × |V|) executor
    // storage. A checkpointed round's blocks are its ONLY copy (the
    // lineage is truncated), so only rounds no longer referenced may be
    // released — never the current one or the returned result (an
    // operation scope around the caller releases those when the
    // operation ends: Materialize.scoped).
    //
    // `reliableCheckpointDir` swaps localCheckpoint for a RELIABLE
    // checkpoint (files under the given dir, typically HDFS/object
    // storage): rounds survive executor loss, the documented 100 TB
    // deployment mode. Reliable rounds hold no executor storage, so
    // release is a no-op there; the files are caller-managed (delete
    // the dir after consuming the result) — Spark only reclaims them
    // on context shutdown with the cleaner enabled.
    val sc = edges.sparkSession.sparkContext
    reliableCheckpointDir.foreach(sc.setCheckpointDir)
    // IterationCheckpoint also RESETS the leaf's plan statistics — the
    // inherited sizeInBytes otherwise compounds multiplicatively across
    // rounds (see its scaladoc; this loop is the canonical victim)
    def checkpointed(df: DataFrame): (DataFrame, scala.collection.Set[Int]) =
      if (reliableCheckpointDir.isDefined) IterationCheckpoint.reliable(df)
      else IterationCheckpoint.local(df)
    // counted variant for the per-round frontier: in local mode the
    // count rides the SAME job that materializes the checkpoint
    // (IterationCheckpoint.localCounted), saving one full pass over the
    // frontier table every round; reliable mode keeps the two-step
    // spelling (the reliable write manages its own materialization)
    def checkpointedCounted(
        df: DataFrame): (DataFrame, scala.collection.Set[Int], Long) =
      if (reliableCheckpointDir.isDefined) {
        val (ck, ids) = IterationCheckpoint.reliable(df)
        (ck, ids, ck.count())
      } else IterationCheckpoint.localCounted(df)
    def release(ids: scala.collection.Set[Int]): Unit =
      IterationCheckpoint.release(sc, ids)

    // ---- small-graph fast path -------------------------------------
    // When the materialized edge list is broadcast-sized anyway
    // (<= smallGraphEdgeRows, same order as the frontier-broadcast
    // threshold), the iterative machinery is all fixed cost: ~3 rounds
    // x (edge join + label merge + checkpoint + count) of multi-job
    // overhead to resolve a graph that fits in one task. Run exact
    // union-find in a single mapPartitions task instead — one job, one
    // checkpoint, same answer (equivalence property-tested in
    // DedupClustersSpec). The gate bounds the fast path's actual work
    // (it iterates raw edge rows), so an over-threshold graph can only
    // ever fall through to the scale path; DedupClustersSpec's ring
    // family ("1k ring with chords (iterative)") pins the iterative
    // rounds. The upstream pair producer still runs exactly once — the
    // counted checkpoint below is the single materialization, and the
    // count rides its job. Disabled when a
    // reliable checkpoint dir is given (the 100 TB deployment mode
    // keeps the uniform round structure) or smallGraphEdgeRows < 0
    // (how the spec pins the iterative path).
    val (sym, symIds) =
      if (reliableCheckpointDir.isEmpty && smallGraphEdgeRows >= 0L) {
        val (ec, ecIds, ecRows) = checkpointedCounted(
          e.filter(col("u") =!= col("v")))
        if (ecRows <= smallGraphEdgeRows) {
          val t0 = System.nanoTime()
          val (res, _) = checkpointed(smallGraphComponents(ec))
          release(ecIds)
          roundHook(1, 0L, (System.nanoTime() - t0) / 1e9)
          return res
        }
        // over threshold: symmetrize from the checkpointed blocks (a
        // cheap in-memory scan — the expensive upstream producer was
        // already paid for by the counted materialization above)
        val s = checkpointed(
          ec.union(ec.select(col("v").as("u"), col("u").as("v")))
            .distinct())
        release(ecIds)
        s
      } else checkpointed(
        e.union(e.select(col("v").as("u"), col("u").as("v")))
          .filter(col("u") =!= col("v"))
          .distinct())

    var (labels, labelIds) = checkpointed(
      sym
        .select(col("u").as("id"))
        .distinct()
        .withColumn("comp", col("id")))

    // round 1's frontier is every vertex (all labels just initialized);
    // it shares labels' checkpoint, so its release set starts empty
    var frontier = labels
    var frontierIds: scala.collection.Set[Int] = Set.empty
    var frontierRows = -1L // unknown (labels-sized) — never broadcast

    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val roundT0 = System.nanoTime()
      // the frontier is the only label source a round needs: a label
      // that did not change last round was already offered to every
      // neighbor and pointer the round after it last changed
      val f0 = frontier.select(
        col("id").as("graft__fid"), col("comp").as("graft__fcomp"))
      val f =
        if (frontierRows >= 0 && frontierRows <= broadcastFrontierRows)
          broadcast(f0)
        else f0
      // min label offered by changed neighbors
      val nbrMin = sym
        .join(f, sym("v") === col("graft__fid"))
        .groupBy(sym("u").as("id"))
        .agg(min(col("graft__fcomp")).as("graft__prop"))
      // pointer jump: vertices whose LABEL is a changed vertex adopt
      // its new label (path compression) — a no-op in round 1, where
      // every label is still its own id, so the join is skipped there
      val offers =
        if (iter == 0) nbrMin
        else nbrMin.union(
          labels
            .join(f, labels("comp") === col("graft__fid"))
            .select(labels("id"), col("graft__fcomp").as("graft__prop")))
      val best = offers
        .groupBy(col("id"))
        .agg(min(col("graft__prop")).as("graft__prop"))
      // strict improvements only — the new frontier (count rides the
      // checkpoint's materialization job, see checkpointedCounted)
      var (newFrontier, newFrontierIds, nfRows) = checkpointedCounted(
        labels
          .join(best, Seq("id"))
          .filter(col("graft__prop") < col("comp"))
          .select(col("id"), col("graft__prop").as("comp")))
      frontierRows = nfRows
      converged = frontierRows == 0L
      // --- within-round pointer-doubling compression ------------------
      // Squaring the changed-label relation against itself until
      // fixpoint: if this round computed a→b and b→c, emit a→c, then
      // a→(c's same-round target), doubling the compressed depth each
      // pass. Correctness: compose of reachable-minimum labels is a
      // reachable minimum, values stay monotone, and membership (the
      // changed-vertex set) is untouched, so the frontier invariant
      // argued above is preserved verbatim. Without this step the
      // cross-round jump alone is NOT O(log diameter): at 10⁷ edges the
      // ring+chain family (DedupClustersSpec's "1k ring with chords
      // (iterative)" case is its small twin) blows the 30-round cap with
      // ~13k frontier left, while doubling closes the whole graph in 2
      // rounds (SCALE_r08.md has the A/B).
      //
      // Scale gates (both matter at 100 TB):
      //  - runs only once the frontier is BROADCASTABLE. Round 1's
      //    frontier is |V|-sized, and doubling there means |V|-sized
      //    shuffle joins per pass (measured 402 s of a 459 s drill run
      //    at 10⁷ edges); the outer edge-join rounds shrink the
      //    frontier geometrically anyway, so waiting one or two rounds
      //    makes every pass a broadcast build instead;
      //  - passes probe only the ACTIVE set. The target ids (this
      //    round's changed vertices) are static across passes, so a row
      //    that fails to hop probes the same id with the same comp
      //    forever — it is SETTLED after its first miss; only rows that
      //    hopped can hop again. Per-pass work therefore tracks the
      //    surviving chain depth (geometric decay), not the frontier,
      //    and each pass checkpoints only the active slice.
      if (pointerDoubling && !converged &&
          frontierRows > 1 && frontierRows <= broadcastFrontierRows) {
        var settled: List[DataFrame] = Nil
        var roundCkIds = newFrontierIds // all checkpoints backing this round
        var active = newFrontier
        var activeRows = frontierRows
        var inner = 0
        while (activeRows > 0 && inner < 20) {
          // targets = the full frontier's CURRENT values (settled rows'
          // values are final, active rows' are this pass's) — using a
          // stale target table would compose one original hop per pass
          // (linear), not double the compressed depth. The rebuilt
          // union has at most `inner`+1 leaves (one settled slice per
          // completed pass, capped at 20 by the loop bound), each a
          // checkpointed scan, and the whole thing is broadcast-sized
          // by the outer gate — so the per-pass plan stays O(passes),
          // not O(2^depth), even on a 2^20-diameter chain
          val t = (settled :+ active).reduce(_ union _).select(
            col("id").as("graft__tid"), col("comp").as("graft__tcomp"))
          val (ck, ckIds) = checkpointed(
            active.join(broadcast(t), active("comp") === col("graft__tid"), "left")
              .select(active("id"),
                coalesce(col("graft__tcomp"), active("comp")).as("comp"),
                // matches are strict improvements: a frontier row's comp
                // is < its id, so tcomp < tid = our comp by construction
                col("graft__tcomp").isNotNull.as("graft__hop")))
          roundCkIds = roundCkIds ++ ckIds
          settled = ck.filter(!col("graft__hop")).select(col("id"), col("comp")) :: settled
          active = ck.filter(col("graft__hop")).select(col("id"), col("comp"))
          activeRows = active.count() // scan of just-materialized blocks
          inner += 1
        }
        newFrontier = (settled :+ active).reduce(_ union _)
        newFrontierIds = roundCkIds
      }
      if (converged) {
        release(newFrontierIds) // empty — labels are final as-is
      } else {
        // merge the changed labels back into the full table: one hash
        // join against the (usually tiny, broadcastable) frontier
        val nf =
          if (frontierRows <= broadcastFrontierRows)
            broadcast(newFrontier.select(
              col("id").as("graft__nid"), col("comp").as("graft__ncomp")))
          else newFrontier.select(
            col("id").as("graft__nid"), col("comp").as("graft__ncomp"))
        val (next, nextIds) = checkpointed(
          labels
            .join(nf, labels("id") === col("graft__nid"), "left")
            .select(
              labels("id"),
              coalesce(col("graft__ncomp"), labels("comp")).as("comp")))
        release(labelIds) // this round is materialized; previous unreferenced
        release(frontierIds)
        labels = next
        labelIds = nextIds
        frontier = newFrontier
        frontierIds = newFrontierIds
      }
      iter += 1
      roundHook(iter, frontierRows, (System.nanoTime() - roundT0) / 1e9)
    }
    release(frontierIds)
    release(symIds) // edges are not referenced by the checkpointed result
    // Fail loudly rather than return labels that may still be mid-merge:
    // a silent partial result would under-merge clusters and a dedup
    // pipeline would keep extra "representatives". With pointer jumping
    // convergence is O(log diameter), so 25 rounds covers diameters up
    // to ~2^25 — hitting the cap means something is pathologically wrong
    // (or maxIter was lowered), not a big-but-healthy graph.
    if (!converged) {
      release(labelIds) // nothing references the partial labels
      throw new IllegalStateException(
        s"DedupClusters.components did not converge in $maxIter rounds")
    }
    labels
  }

  /** Exact union-find over a broadcast-sized edge list in ONE task —
    * the small-graph fast path of [[components]]. All-primitive
    * (sorted vertex array + dense int parent array, path compression,
    * union-by-min), so the per-edge cost is two binary searches; the
    * caller's row gate bounds the coalesced task at ~64 MB of edge
    * longs. Attaching the larger root under the smaller (vertices
    * sorted ascending → smaller index = smaller id) makes every root
    * the component MINIMUM, matching the iterative path's contract
    * exactly. Runs on an executor, not the driver — the edge list
    * never collects. */
  private def smallGraphComponents(edges: DataFrame): DataFrame = {
    val session = edges.sparkSession
    import session.implicits._
    edges.select(col("u"), col("v")).as[(Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val ub = new scala.collection.mutable.ArrayBuilder.ofLong
        val vb = new scala.collection.mutable.ArrayBuilder.ofLong
        it.foreach { case (u, v) => ub += u; vb += v }
        val us = ub.result(); val vs = vb.result()
        // sorted distinct vertex table, all primitive (no boxing)
        val all = new Array[Long](us.length * 2)
        System.arraycopy(us, 0, all, 0, us.length)
        System.arraycopy(vs, 0, all, us.length, vs.length)
        java.util.Arrays.sort(all)
        var n = 0
        var i = 0
        while (i < all.length) {
          if (n == 0 || all(n - 1) != all(i)) { all(n) = all(i); n += 1 }
          i += 1
        }
        val verts = java.util.Arrays.copyOf(all, n)
        val parent = Array.tabulate(n)(identity)
        def find(x: Int): Int = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
          r
        }
        i = 0
        while (i < us.length) {
          val a = find(java.util.Arrays.binarySearch(verts, us(i)))
          val b = find(java.util.Arrays.binarySearch(verts, vs(i)))
          if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
          i += 1
        }
        Iterator.range(0, n).map(j => (verts(j), verts(find(j))))
      }
      .toDF("id", "comp")
  }

  /** Cluster near-dup pairs and tag each member: `component` is the
    * canonical (minimum) doc id of its cluster, `keep` marks the one
    * representative a dedup pipeline would retain. */
  def keepOnePerCluster(
      pairs: DataFrame,
      idA: String,
      idB: String): DataFrame =
    components(pairs, idA, idB)
      .select(
        col("id").as("doc_id"),
        col("comp").as("component"),
        (col("id") === col("comp")).as("keep"))

  /** Canonical-document selection: one representative per duplicate
    * cluster, chosen by QUALITY (max `scoreCol`, ties to the lower id)
    * instead of [[keepOnePerCluster]]'s min-id rule — what a production
    * dedup pipeline actually ships, since dropping the better-quality
    * copy because it has the higher id throws away signal for free.
    * Singletons (docs in no pair) are their own component and their own
    * representative. Output: (component, rep_id, rep_score, n_docs),
    * one row per component over the FULL doc set.
    *
    * Scale shape: [[components]] labels only docs that appear in pairs
    * (frontier-sized state); the full corpus joins those labels by id
    * (broadcastable — the labeled set is pair-participants only) and
    * singletons coalesce to self-labels without ever entering the CC
    * fixpoint. The argmax is a groupBy min(struct(-score, id)) — exact,
    * associative, one agg exchange carrying a struct of two longs per
    * component partial, never document content. */
  def bestPerCluster(
      pairs: DataFrame,
      idA: String,
      idB: String,
      docs: DataFrame,
      idCol: String,
      scoreCol: String): DataFrame = {
    val labels = components(pairs, idA, idB)
      .select(col("id").as(idCol), col("comp").as("graft__comp"))
    docs
      .select(col(idCol).cast("long").as(idCol),
        col(scoreCol).cast("long").as("graft__score"))
      .join(labels, Seq(idCol), "left")
      .select(
        coalesce(col("graft__comp"), col(idCol)).as("component"),
        col(idCol), col("graft__score"))
      .groupBy(col("component"))
      .agg(
        min(struct((-col("graft__score")).as("graft__neg"),
          col(idCol).as("graft__id"))).as("graft__best"),
        count(lit(1)).as("n_docs"))
      .select(col("component"),
        col("graft__best.graft__id").as("rep_id"),
        (-col("graft__best.graft__neg")).as("rep_score"),
        col("n_docs"))
  }
}
