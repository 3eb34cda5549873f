package graft.operators

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.storage.StorageLevel

import graft.SparkTestBase
import graft.queries.CorpusFixture
import graft.sources.Tables

/** Operation scopes ([[Materialize.scoped]]): what an operation persists
  * through `Materialize.shared` or checkpoints through
  * `IterationCheckpoint.localCounted` is released when it ends, on the
  * normal and the failure path, nested scopes release at their own end,
  * and a cache the caller made is never the operation's to drop. */
class MaterializeScopeSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def assertNothingHeld(after: String): Unit = {
    assert(persistedIds.isEmpty, s"persisted RDDs after $after")
    assert(spark.sharedState.cacheManager.isEmpty, s"cached plans after $after")
  }

  private def cached(df: DataFrame): Boolean =
    df.storageLevel != StorageLevel.NONE

  /** `body`'s result and the ids of every RDD persisted at the end of
    * one of its jobs. */
  private def persistedDuring[A](body: => A): (A, Set[Int]) = {
    val sc = spark.sparkContext
    val seen = mutable.Set.empty[Int]
    val l = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        seen.synchronized(seen ++= sc.getPersistentRDDs.keySet)
    }
    sc.addSparkListener(l)
    try {
      val r = body
      org.apache.spark.ListenerBusAccess.drain(sc)
      (r, seen.synchronized(seen.toSet))
    } finally sc.removeSparkListener(l)
  }

  test("a scope releases what it persisted and checkpointed when it returns") {
    Materialize.releaseAll(spark)
    val df = spark.range(200).toDF("id").withColumn("x", $"id" * 3L)
    val (n, held, ckHeld) = Materialize.scoped {
      val s = Materialize.shared(df)
      val n = s.count()
      val (_, ids, _) = IterationCheckpoint.localCounted(df.filter($"id" > 5L))
      (n, cached(df), ids.forall(persistedIds.contains))
    }
    assert(n === 200L && held && ckHeld)
    assert(!cached(df))
    assertNothingHeld("a returning scope")
  }

  test("a scope releases every branch's caches when one branch of an Overlap.all throws") {
    Materialize.releaseAll(spark)
    val a = spark.range(50).toDF("id").withColumn("a", $"id" + 1L)
    val b = spark.range(60).toDF("id").withColumn("b", $"id" + 2L)
    val e = intercept[IllegalStateException] {
      Materialize.scoped {
        Overlap.all(spark)(
          () => { Materialize.shared(a).count(); () },
          () => {
            Materialize.shared(b).count()
            IterationCheckpoint.localCounted(b.filter($"b" > 3L))
            throw new IllegalStateException("branch failed")
          })
      }
    }
    assert(e.getMessage === "branch failed")
    assert(!cached(a) && !cached(b))
    assertNothingHeld("a failed fan-out")
    // the pooled threads keep no scope: a persist outside any scope is
    // the runner sweep's, on a task thread too
    val c = spark.range(70).toDF("id").withColumn("c", $"id" + 3L)
    Overlap.all(spark)(() => { Materialize.shared(c).count(); () })
    assert(cached(c))
    Materialize.releaseAll(spark)
  }

  test("a cache the caller made on an equal plan survives the operation") {
    Materialize.releaseAll(spark)
    val docs = Seq((1L, "the quick brown fox jumps"), (2L, "the quick brown fox leaps"),
      (3L, "an entirely different text here")).toDF("doc_id", "text")
    def sketch = BandIndex.sketchRelation(docs, "doc_id", "text",
      BandIndex.DefaultShingleWidth, BandIndex.DefaultNumHashes,
      BandIndex.DefaultBands)
    val mine = sketch.persist(StorageLevel.MEMORY_AND_DISK)
    assert(mine.count() === 3L)
    // the build persists an equal sketch of its own: the cache manager
    // already holds the plan, so the build does not own the entry
    BandIndex.build(docs, "doc_id", "text", "target/test_scope/band_caller")
    assert(cached(mine), "the build dropped the caller's cache")
    assert(persistedIds.nonEmpty)
    mine.unpersist(blocking = true)
    // without the caller's cache, the same build's sketch is its own
    BandIndex.build(docs, "doc_id", "text", "target/test_scope/band_own")
    assertNothingHeld("a build without a caller cache")
  }

  test("the checkpoints behind a components result go with the registry op that wrote it") {
    Materialize.releaseAll(spark)
    // a components result inside a scope holds its rounds' checkpoint
    // blocks until the scope ends
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L), (6L, 7L), (7L, 8L))
      .toDF("u", "v")
    val behind = Materialize.scoped {
      val comp = DedupClusters.components(edges, "u", "v")
      assert(comp.filter(col("comp") === 5L).count() === 4L)
      persistedIds
    }
    assert(behind.nonEmpty)
    assertNothingHeld("a scope around components")
    // the registry ingest resolves its batch through components
    val path = "target/test_scope/registry"
    val base = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six"),
      (3L, "red green blue cyan magenta yellow")).toDF("doc_id", "text")
    ClusterRegistry.build(base, "doc_id", "text", path)
    assertNothingHeld("a registry build")
    val delta = Seq((10L, "alpha beta gamma delta epsilon zeta"),
      (11L, "one two three four five six"),
      (12L, "one two three four five six")).toDF("doc_id", "text")
    val (_, during) = persistedDuring(
      ClusterRegistry.ingest(delta, "doc_id", "text", path, "b1"))
    assert(during.nonEmpty, "the ingest checkpointed nothing")
    assertNothingHeld("a registry ingest")
    val a = ClusterRegistry.assignments(spark, path).as[(Long, Long)]
      .collect().toMap
    assert(a(10L) === 1L && a(11L) === 2L && a(12L) === 2L)
    Materialize.releaseAll(spark)
  }

  test("a nested scope (an ingest's autoCompact) releases its own entries at its own end") {
    Materialize.releaseAll(spark)
    val path = "target/test_scope/nested"
    val dir = s"$path/rel"
    LsmLayout.startIndexLife(spark, path, Seq((dir, "gen="))) {
      LsmLayout.writeRelation(spark.range(5).toDF("id")
        .withColumn("gen", lit("base")), dir, "gen")
    }
    val outer = spark.range(40).toDF("id").withColumn("o", $"id" * 2L)
    var innerHeld = Set.empty[Int]
    var afterCompact = Set.empty[Int]
    var outerHeldAfterCompact = false
    // two live generations past a budget of one: the ingest compacts
    LsmLayout.ingestBatch(spark, path, "b1", None, 1, Seq((dir, "gen=")),
      epoch => {
        LsmLayout.snapshotCompact(spark, path, epoch, Seq((dir, "gen="))) {
          fold => Seq(() => {
            val ck = fold.checkpointed(
              LsmLayout.readLive(spark, fold.snap, dir, "gen=")
                .select(col("id")))
            innerHeld = persistedIds
            LsmLayout.writeGeneration(
              ck.withColumn("gen", lit(fold.newBase)), dir, "gen")
          })
        }
        afterCompact = persistedIds
        outerHeldAfterCompact = cached(outer)
      }) { _ =>
      val o = Materialize.shared(outer)
      LsmLayout.writeGeneration(
        o.select(col("id")).withColumn("gen", lit("b1")), dir, "gen")
    }
    val fold = innerHeld -- afterCompact
    assert(fold.nonEmpty, "the compact's checkpoint outlived the compact")
    assert(outerHeldAfterCompact, "the nested scope released the ingest's cache")
    assert(afterCompact.nonEmpty, "the ingest's cache was gone before the ingest ended")
    assertNothingHeld("the ingest")
  }

  test("after a fixture build, ingests, a forget, a maintain and one probe of each kind nothing stays persisted") {
    Materialize.releaseAll(spark)
    val root = "target/test_scope/corpus"
    val lay = CorpusFixture.cloneBase(spark, sf, root, rebuild = true)
    assertNothingHeld("the fixture build")
    val docs = Tables(spark, sf, "documents")
    val delta = docs.filter(col("doc_id") % 3 === 0).withColumn("g", col("doc_id"))
    val vecs = Tables(spark, sf, "embeddings").filter(col("vec_id") % 3 === 0)
    // a coordinator that crashed after the chunk store took the batch:
    // that layout's own ingest ran alone, outside any fan-out
    ChunkStore.refresh(delta, "doc_id", "text", lay.chunks.get, "i1")
    assertNothingHeld("a layout's own ingest")
    CorpusLifecycle.ingest(delta, "doc_id", "text", lay, "i1",
      groupCol = Some("g"), deltaVectors = Some((vecs, "vec_id", "embedding")))
    assertNothingHeld("the ingest")
    val gone = docs.filter(col("doc_id") % 7 === 1).select("doc_id", "text")
    CorpusLifecycle.forget(gone, "doc_id", "text", lay, "f1")
    assertNothingHeld("the forget")
    CorpusLifecycle.maintain(spark, lay).collect()
    assertNothingHeld("the maintain")
    val (id, text) = docs.filter(col("doc_id") % 7 =!= 1)
      .select("doc_id", "text").as[(Long, String)].collect()
      .filter(_._2.split(" ").length >= 3).minBy(_._1)
    assert(LexicalIndex.pointProbe(spark, lay.lexical.get, text, 10)
      .collect().exists(_.getAs[Long]("doc_id") == id))
    assert(BandIndex.pointProbe(docs, "doc_id", "text", lay.band.get, text, 0.9)
      .collect().exists(_.getAs[Long]("doc_id") == id))
    val canon = ClusterRegistry.canonicalAssignments(spark, lay.registry.get)
      .as[(Long, Long)].collect()
    assert(canon.exists(_._1 == id) && !canon.exists(_._1 % 7 == 1))
    assert(ChunkStore.reconstruct(spark, lay.chunks.get)
      .filter(col("doc_id") === id).count() === 1L)
    assertNothingHeld("the probes")
  }

  test("registry reads after each of three ingests leave no persisted RDD") {
    Materialize.releaseAll(spark)
    val p = "target/test_scope/registry_reads"
    def doc(id: Long, tag: String) =
      (id, (1 to 12).map(i => s"$tag$i").mkString(" "))
    ClusterRegistry.build(Seq(doc(1L, "a"), doc(2L, "b")).toDF("doc_id", "text"),
      "doc_id", "text", p)
    Seq("c", "d", "e").zipWithIndex.foreach { case (tag, i) =>
      ClusterRegistry.ingest(Seq(doc(10L + i, tag)).toDF("doc_id", "text"),
        "doc_id", "text", p, batchId = s"b$i")
      assert(ClusterRegistry.assignments(spark, p).count() === 3L + i)
      assertNothingHeld(s"the read after ingest b$i")
    }
  }
}
