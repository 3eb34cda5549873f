package graft.queries

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators._

/** The SHARED base-corpus fixture for the corpus-coordination oracles
  * (s55/s56/s59/s60/s61/s64): six layouts built once per scale factor
  * on the `doc_id % 3 =!= 0` / `vec_id % 3 =!= 0` base slice, then
  * CLONED (a file-tree copy) into each oracle's own sink root before
  * the oracle mutates it.
  *
  * Why (the r15 bench adjudication): every coordination oracle used to
  * rebuild the SAME six layouts from the same corpus inside its timed
  * body — ~35 redundant index builds per bench run, the dominant term
  * of the 2× gate breach, pricing nothing those oracles actually gate
  * (they gate fan-out/audit/crash-replay logic, not build throughput).
  * The fixture prices the builds ONCE: s56 — the ingest-coordination
  * oracle, whose contract starts from a standing corpus — REBUILDS the
  * fixture fresh in its timed body every run, so the six-build cost
  * stays visible in exactly one oracle's number; every other consumer
  * clones the cached tree (layouts are path-relocatable by
  * construction: parquet + name-keyed manifests, no absolute paths).
  *
  * Clones are FULL copies, so an oracle's tombstones/ingests/compacts
  * never leak into the fixture or into another oracle; the fixture
  * itself is immutable after its `_done` marker lands (a crash mid-
  * build leaves no marker and the next consumer rebuilds). Keyed by
  * the sf directory name — Verify (sf0.01) and Bench (sf0.1) never
  * share a tree; Bench clears target/sinks at startup, so every bench
  * run re-prices one build.
  */
object CorpusFixture {

  /** The six layout paths under a root, in the coordination oracles'
    * shared configuration. */
  def layoutsAt(root: String): CorpusLifecycle.CorpusLayouts =
    CorpusLifecycle.CorpusLayouts(
      registry = Some(s"$root/registry"), band = Some(s"$root/band"),
      lexical = Some(s"$root/lexical"), kmv = Some(s"$root/kmv"),
      ivf = Some(s"$root/ivf"), chunks = Some(s"$root/chunks"))

  /** Clone the (built-on-demand) base fixture into `destRoot` and
    * return its layout paths. `rebuild = true` forces a fresh fixture
    * build first — the pricing oracle's (s56) spelling. */
  def cloneBase(
      spark: SparkSession, sfDir: String, destRoot: String,
      rebuild: Boolean = false): CorpusLifecycle.CorpusLayouts = {
    val src = ensure(spark, sfDir, rebuild)
    val dst = Paths.get(destRoot)
    deleteTree(dst)
    copyTree(Paths.get(src), dst)
    layoutsAt(destRoot)
  }

  /** The fixture key carries a FINGERPRINT of the source table
    * (length + mtime of documents.parquet), not just the sf name: the
    * harness regenerates testdata between rounds, and a cached tree
    * built from a previous vintage would silently serve stale data
    * against a fresh DuckDB oracle. A changed fingerprint simply
    * misses the cache and rebuilds; stale sibling keys for the same
    * sf are swept so target/sinks does not accumulate vintages. */
  private def fixtureRoot(sfDir: String): String = {
    val src = new java.io.File(sfDir, "documents.parquet")
    val fp = java.lang.Long.toHexString(
      src.length * 1000003L ^ src.lastModified)
    s"target/sinks/_fixture/${new java.io.File(sfDir).getName}-$fp-base3-v1"
  }

  /** Build the fixture if its `_done` marker is absent (or `rebuild`);
    * returns its root. Synchronized: one session runner drives the
    * queries sequentially, but the guard makes first-touch safe under
    * any same-JVM composition. */
  private def ensure(
      spark: SparkSession, sfDir: String,
      rebuild: Boolean): String = synchronized {
    val root = fixtureRoot(sfDir)
    val done = Paths.get(root, "_done")
    if (rebuild || !Files.exists(done)) {
      // sweep stale vintages of this sf (a regenerated testdata dir
      // changes the fingerprint, so the old tree can never be read
      // again — reclaim it)
      val parent = new java.io.File("target/sinks/_fixture")
      val prefix = new java.io.File(sfDir).getName + "-"
      Option(parent.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith(prefix) &&
          f.getPath != root)
        .foreach(f => deleteTree(f.toPath))
      deleteTree(Paths.get(root))
      val docs = graft.sources.Tables(spark, sfDir, "documents")
      val base = docs.filter(col("doc_id") % 3 =!= 0)
      val baseVecs = graft.sources.Tables(spark, sfDir, "embeddings")
        .filter(col("vec_id") % 3 =!= 0)
      // six independent builds on disjoint directories — overlap them
      // (the fixture wall is the slowest build, not the sum; each
      // build's own internal contracts are unchanged)
      Overlap.all(spark)(
        () => ClusterRegistry.build(base, "doc_id", "text",
          s"$root/registry"),
        () => BandIndex.build(base, "doc_id", "text", s"$root/band"),
        () => LexicalIndex.build(base, "doc_id", "text", s"$root/lexical"),
        () => KmvLayout.build(base.withColumn("g", col("doc_id")),
          "g", "doc_id", "text", s"$root/kmv", k = 32),
        () => IvfLayout.build(baseVecs, "vec_id", "embedding", s"$root/ivf",
          Similarity.hyperplanes(4, 64).map(_.map(_.toDouble))),
        () => ChunkStore.build(base, "doc_id", "text", s"$root/chunks",
          maskBits = 4))
      Files.createFile(done)
    }
    root
  }

  private def deleteTree(p: Path): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)

  private def copyTree(src: Path, dst: Path): Unit = {
    val walk = Files.walk(src)
    try walk.forEach { s =>
      val d = dst.resolve(src.relativize(s))
      if (Files.isDirectory(s)) Files.createDirectories(d)
      else {
        Files.createDirectories(d.getParent)
        // HARD-LINK the clone where the filesystem allows it: metadata
        // cost per file instead of a corpus-proportional byte copy (the
        // fixture clone is otherwise the coordination oracles' growing
        // fixed cost at large SF). Safe because every stored file is
        // immutable once written — the layouts mutate by writing NEW
        // files, unlinking, or renaming, never by writing through an
        // existing file (the layout metadata writes delete, then create:
        // LsmLayout.createFresh) — so a linked clone cannot observe or
        // cause cross-tree interference. Byte-copy fallback where links
        // are unsupported.
        try Files.createLink(d, s)
        catch {
          case _: UnsupportedOperationException | _: java.io.IOException =>
            Files.copy(s, d)
        }
      }
    } finally walk.close()
  }
}
