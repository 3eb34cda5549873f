package graft.operators

import scala.util.Random

import graft.SparkTestBase

class DedupClustersSpec extends SparkTestBase {

  private def edgesDf(rows: Seq[(Long, Long)]) = {
    import spark.implicits._
    rows.toDF("a", "b")
  }

  /** Default path — these graphs are all under the small-graph gate, so
    * this exercises the single-task union-find fast path. */
  private def run(rows: Seq[(Long, Long)]): Map[Long, Long] =
    DedupClusters.components(edgesDf(rows), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Iterative path pinned (`smallGraphEdgeRows = -1`) — the frontier
    * rounds + pointer doubling that graphs past the small-graph gate
    * run. */
  private def runIter(rows: Seq[(Long, Long)]): Map[Long, Long] =
    DedupClusters.components(edgesDf(rows), "a", "b",
      smallGraphEdgeRows = -1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Driver-side union-find ground truth. */
  private def unionFind(rows: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    rows.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  test("components: disjoint pairs, a chain, and a triangle") {
    // {1,2}, {3,4,5,6} (chain), {7,8,9} (triangle)
    val edges = Seq(1L -> 2L, 3L -> 4L, 4L -> 5L, 5L -> 6L,
      7L -> 8L, 8L -> 9L, 9L -> 7L)
    val got = run(edges)
    assert(got === Map(
      1L -> 1L, 2L -> 1L,
      3L -> 3L, 4L -> 3L, 5L -> 3L, 6L -> 3L,
      7L -> 7L, 8L -> 7L, 9L -> 7L))
  }

  test("components: reversed/duplicate edges and self-loops are harmless") {
    val got = run(Seq(2L -> 1L, 1L -> 2L, 2L -> 1L, 5L -> 5L, 3L -> 4L))
    // the 5-5 self-loop contributes no edge; vertex 5 disappears (it is
    // in no pair, so a dedup pipeline has nothing to resolve for it)
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
  }

  test("components: long chain needs multiple propagation rounds") {
    // a path 0-1-2-...-19: diameter 19 exercises pointer jumping
    val got = runIter((0L until 19L).map(i => i -> (i + 1)))
    assert(got === (0L to 19L).map(_ -> 0L).toMap)
  }

  test("components: randomized equivalence with driver-side union-find") {
    val rnd = new Random(7)
    val edges = Seq.fill(60)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }
    assert(run(edges) === unionFind(edges))
  }

  test("components: fast path and iterative path agree on randomized graphs") {
    // the small-graph union-find and the frontier rounds must be
    // indistinguishable to a caller — same vertices, same minima
    (1 to 3).foreach { seed =>
      val rnd = new Random(seed)
      val edges = Seq.fill(120)(
        (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
        .filter { case (a, b) => a != b }
      val fast = run(edges)
      assert(fast === runIter(edges), s"paths disagree at seed $seed")
      assert(fast === unionFind(edges), s"ground truth mismatch at seed $seed")
    }
  }

  test("components releases superseded round checkpoints (no block pile-up)") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    // 20-vertex chain → several rounds, each with its own checkpoint
    val result = runIter((0L until 19L).map(i => i -> (i + 1)))
    assert(result.size === 20)
    val after = sc.getPersistentRDDs.size
    // every superseded round and the edge list must be unpersisted;
    // only the returned labels' own checkpoint may remain
    assert(after - before <= 1,
      s"checkpoint blocks piled up: $before -> $after persistent RDDs")
  }

  test("fast path releases the edge checkpoint (no block pile-up)") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    val result = run((0L until 19L).map(i => i -> (i + 1)))
    assert(result.size === 20)
    val after = sc.getPersistentRDDs.size
    // the counted edge checkpoint must be released; only the returned
    // labels' own checkpoint may remain
    assert(after - before <= 1,
      s"checkpoint blocks piled up: $before -> $after persistent RDDs")
  }

  test("components: adversarial 200-vertex chain converges under the cap") {
    // worst case for label propagation — one path, diameter 199; pointer
    // jumping must close it in O(log d) rounds, far below maxIter=25
    val got = runIter((0L until 199L).map(i => i -> (i + 1)))
    assert(got === (0L to 199L).map(_ -> 0L).toMap)
  }

  test("components: 1k ring with chords (iterative) resolves to one component") {
    // cycles are the shape the chain test can't cover: pointer chains
    // formed during a round can point "backwards" around the ring, and
    // the within-round doubling must still terminate (labels strictly
    // decrease, so the pointer graph stays acyclic even when the edge
    // graph is not). The ring-with-multiplicative-chords family is the
    // one the 10^7-edge runs (SCALE_r08.md) stressed, at 1k vertices.
    val n = 1000L
    val ring = (0L until n).map(i => i -> ((i + 1) % n))
    val chords = (0L until n).map(i => i -> ((i * 2654435761L) % n))
    val edges = (ring ++ chords).filter { case (a, b) => a != b }
    val got = runIter(edges)
    assert(got.size === n)
    assert(got.values.toSet === Set(0L), "every vertex must reach label 0")
  }

  test("components: throws instead of returning unconverged labels") {
    // a 20-vertex chain cannot converge in 1 round; silent partial
    // labels would under-merge clusters downstream, so the cap throws
    val ex = intercept[IllegalStateException] {
      DedupClusters.components(
        edgesDf((0L until 19L).map(i => i -> (i + 1))), "a", "b",
        maxIter = 1, smallGraphEdgeRows = -1L)
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("reliable-checkpoint mode: same components, rounds written to the dir") {
    val dir = "target/dedup_reliable_ckpt"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val edges = (0L until 19L).map(i => i -> (i + 1)) ++
      Seq(30L -> 31L, 31L -> 32L)
    val got = DedupClusters.components(
      edgesDf(edges), "a", "b", reliableCheckpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === unionFind(edges))
    // the 100 TB mode actually wrote its rounds to the reliable dir
    val files = org.apache.commons.io.FileUtils
      .listFiles(new java.io.File(dir), null, true)
    assert(!files.isEmpty, "reliable checkpoint dir must contain round files")
  }

  test("keepOnePerCluster tags exactly the minimum id per component") {
    val pairs = edgesDf(Seq(10L -> 11L, 11L -> 12L, 20L -> 21L))
      .withColumnRenamed("a", "id_a").withColumnRenamed("b", "id_b")
    val got = DedupClusters.keepOnePerCluster(pairs, "id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got === Set(
      (10L, 10L, true), (11L, 10L, false), (12L, 10L, false),
      (20L, 20L, true), (21L, 20L, false)))
  }
}
