package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.ExtensionQueries

/** The session-lifetime shared caches must be releasable per dataset
  * (round-3 ADVICE / round-4 verdict #5): a long-lived multi-dataset
  * server evicts one dataset's postings without disturbing another's.
  */
class CachesSpec extends AnyFunSuite with SparkSpec {

  test("clear(sfDir) releases every registered cache for that dataset and queries still work") {
    // Populate the shared caches: docTokens (via q04-style vocab),
    // docShingles + the x04 pair set, and x51's 8-gram posting.
    val x04Before = ExtensionQueries.x04_ngram_jaccard(spark, sf).collect()
    ExtensionQueries.x51_contamination(spark, sf).count()
    graft.ml.IvfIndex.build(spark, sf)

    val live = Caches.registered(sf)
    assert(live.nonEmpty, "expected registered caches after running x04/x51")
    assert(live.forall(_.storageLevel != StorageLevel.NONE))

    val released = Caches.clear(sf)
    assert(released >= live.size && released > 0)
    assert(Caches.registered(sf).isEmpty, "registry must be empty for sfDir after clear")
    assert(live.forall(_.storageLevel == StorageLevel.NONE),
      "every previously-registered frame must be unpersisted")

    // Eviction is transparent: the query rebuilds its cache and returns
    // identical rows.
    val x04After = ExtensionQueries.x04_ngram_jaccard(spark, sf).collect()
    assert(x04After.toSeq == x04Before.toSeq)
    Caches.clear(sf)
  }

  test("clear(sfDir) leaves other datasets' caches alone") {
    val other = sfDir("0.01")
    ExtensionQueries.x04_ngram_jaccard(spark, sf).count()
    ExtensionQueries.x04_ngram_jaccard(spark, other).count()
    assert(Caches.registered(sf).nonEmpty && Caches.registered(other).nonEmpty)

    Caches.clear(sf)
    assert(Caches.registered(sf).isEmpty)
    val survivors = Caches.registered(other)
    assert(survivors.nonEmpty, "the other dataset's caches must survive")
    assert(survivors.forall(_.storageLevel != StorageLevel.NONE))
    Caches.clear(other)
  }

  test("persisting an equivalent plan twice registers once and skips the second persist()") {
    import spark.implicits._
    val mk = () => Seq((1L, "a"), (2L, "b")).toDF("id", "s").filter($"id" > 0)
    val before = Caches.registered(sf).size
    val first = Caches.persist(mk())
    val second = Caches.persist(mk()) // equivalent plan, fresh frame
    // the registry hands back the FIRST frame — the second frame was
    // never persisted, so CacheManager is never asked to re-cache an
    // already-cached plan (round-5 verdict #6: warning spam + a
    // redundant re-mark on every warm x04 call)
    assert(second eq first, "equivalent plan must return the registered frame")
    assert(first.storageLevel != StorageLevel.NONE)
    assert(Caches.registered(sf).size == before,
      "in-memory frames don't read sfDir; that registry slice is unchanged")
    Caches.clearAll()
  }

  test("Caches.clear(sfDir) also releases the dataset's BPE memo; queries rebuild") {
    import graft.queries.ExtensionQueries
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    ExtensionQueries.x79_bpe_train(spark, sf).collect()
    assert(Caches.memoized(sf, "bpe") > 0, "x79 should populate the memo")
    // the memo's encoded frame is a localCheckpoint — its blocks show
    // up as persistent RDDs the CacheManager does NOT track
    val rddsWithMemo = spark.sparkContext.getPersistentRDDs.keySet
    assert((rddsWithMemo -- rddsBefore).nonEmpty,
      "the BPE memo should hold checkpoint storage")
    Caches.clear(sf)
    assert(Caches.memoized(sf, "bpe") == 0, "clear must drop the BPE memo")
    // release is REAL, not GC-deferred: the checkpoint RDDs introduced
    // by the memo are gone from persistent storage (Dataset.unpersist
    // would be a silent no-op here — the CheckpointShim pin)
    val rddsAfter = spark.sparkContext.getPersistentRDDs.keySet
    assert((rddsWithMemo -- rddsBefore -- rddsAfter).nonEmpty,
      "clear must unpersist the checkpointed frame's storage")
    // transparent rebuild, identical answer (training is deterministic)
    val again = ExtensionQueries.x79_bpe_train(spark, sf).collect()
    assert(Caches.memoized(sf, "bpe") > 0)
    assert(again.nonEmpty)
  }

  test("Caches.clear(sfDir) drops the dataset's Bm25/IvfPq memos so queries re-register caches") {
    import graft.queries.ExtensionQueries
    ExtensionQueries.x91_bm25(spark, sf).collect()
    val before = Caches.registered(sf).size
    assert(before > 0, "the BM25 build should register shared caches")
    Caches.clear(sf)
    // a cleared memo must NOT serve the old (now unpersisted) frames:
    // the next call rebuilds and re-registers through Caches
    ExtensionQueries.x91_bm25(spark, sf).collect()
    assert(Caches.registered(sf).nonEmpty,
      "post-clear BM25 must re-register its caches (stale memo served)")
    Caches.clearAll()
  }

  test("Caches.clear(sfDir) drops the dataset's memoized IVF index") {
    val ixA = graft.ml.IvfIndex.build(spark, sf)
    Caches.clear(sf)
    assert(ixA.assigned.storageLevel == StorageLevel.NONE)
    // a rebuild after clear is a fresh index, not the dropped memo
    val ixB = graft.ml.IvfIndex.build(spark, sf)
    assert(ixB ne ixA)
    Caches.clear(sf)
  }

  /** One row per memo kind: the query that builds it, the memo's
    * params, and the frames its value holds (empty for values that
    * hold no storage of their own).
    */
  private case class MemoKind(kind: String, query: SparkSession => DataFrame,
      params: Any = (), frames: Any => Seq[DataFrame] = _ => Nil)

  private def memoKinds: Seq[MemoKind] = {
    import graft.ml._
    import ExtensionQueries._
    def coded(v: Any) = Seq(v.asInstanceOf[IvfPq.Index].coded)
    def checkpoint(v: Any) = Seq(v.asInstanceOf[DataFrame])
    Seq(
      MemoKind("ivf", x21_ann_ivf(_, sf), 16,
        v => Seq(v.asInstanceOf[IvfIndex.Index].assigned)),
      MemoKind("pq", x75_ann_pq(_, sf), (16, 16),
        v => Seq(v.asInstanceOf[PqIndex.Index].codes)),
      MemoKind("ivfpq", x76_ann_ivfpq(_, sf), (16, 16), coded),
      MemoKind("bm25", x91_bm25(_, sf), frames = v =>
        Seq(v.asInstanceOf[Bm25Index.Index].posting, v.asInstanceOf[Bm25Index.Index].df)),
      MemoKind("bm25.published", x96_bm25_indexed(_, sf)),
      MemoKind("bm25p.published", x124_passage_indexed(_, sf)),
      MemoKind("ivfpq.published", x97_hybrid_indexed(_, sf), frames = coded),
      MemoKind("whiten.published", x129_whiten(_, sf)),
      MemoKind("whivf.published", x140_whiten_ivf(_, sf), frames = coded),
      MemoKind("bitext.published", x145_bitext_mining_ann(_, sf), frames = v => {
        val s = v.asInstanceOf[BitextAnn.Sides]
        Seq(s.en.assigned, s.x.assigned)
      }),
      MemoKind("bpe", x79_bpe_train(_, sf),
        frames = v => Seq(v.asInstanceOf[(Any, DataFrame)]._2)),
      MemoKind("closure", x29_dup_clusters(_, sf), "x29", checkpoint),
      MemoKind("marginGate", x144_bitext_mining(_, sf)))
  }

  /** The memo's value — a registry hit; a miss fails the build. */
  private def memoValue(m: MemoKind): Any =
    Caches.memo[Any](spark, m.kind, sf, m.params)(fail(s"${m.kind} not memoized"))(_ => ())

  /** Whether a frame still holds storage: a checkpoint's RDD is in the
    * persistent-RDD table, anything else has a storage level.
    */
  private def holdsStorage(df: DataFrame): Boolean = df.queryExecution.analyzed match {
    case lr: org.apache.spark.sql.execution.LogicalRDD =>
      spark.sparkContext.getPersistentRDDs.contains(lr.rdd.id)
    case _ => df.storageLevel != StorageLevel.NONE
  }

  test("clear(sfDir + \"/\") releases every memo kind and the rebuild is fresh") {
    for (m <- memoKinds) withClue(s"[${m.kind}] ") {
      m.query(spark).collect()
      assert(Caches.memoized(sf, m.kind) == 1)
      val before = memoValue(m)
      val frames = m.frames(before)
      assert(frames.forall(holdsStorage), "the memo should hold storage")
      Caches.clear(sf + "/")
      assert(Caches.memoized(sf, m.kind) == 0, "a trailing-slash clear must drop the memo")
      assert(!frames.exists(holdsStorage), "the memo's frames must be released")
      m.query(spark).collect()
      assert(Caches.memoized(sf, m.kind) == 1)
      if (frames.nonEmpty || !before.isInstanceOf[java.lang.Boolean])
        assert(memoValue(m).asInstanceOf[AnyRef] ne before.asInstanceOf[AnyRef],
          "the rebuild must not serve the released value")
      Caches.clear(sf)
    }
  }

  test("clear(sfDir) releases the artifact frames its published memos loaded") {
    ExtensionQueries.x97_hybrid_indexed(spark, sf).collect()
    ExtensionQueries.x145_bitext_mining_ann(spark, sf).collect()
    val roots = Seq("ivfpq", "bitext").map(graft.ml.Bm25Index.artifactRoot(_, sf))
    roots.foreach(r => assert(Caches.registered(r).nonEmpty, s"nothing loaded under $r"))
    Caches.clear(sf)
    roots.foreach(r => assert(Caches.registered(r).isEmpty, s"loaded frames outlive clear: $r"))
  }

  test("memos never cross sessions") {
    val other = spark.newSession()
    val mine = graft.ml.IvfIndex.build(spark, sf)
    assert(graft.ml.IvfIndex.build(other, sf) ne mine)
    ExtensionQueries.x79_bpe_train(spark, sf).collect()
    ExtensionQueries.x79_bpe_train(other, sf).collect()
    assert(Caches.memoized(sf, "ivf") == 2 && Caches.memoized(sf, "bpe") == 2,
      "a second session must build its own memos")
    Caches.clear(sf)
    assert(Caches.memoized(sf, "ivf") == 0 && Caches.memoized(sf, "bpe") == 0)
  }

  test("source guard: no identity-hash keys, no memo map outside the registry") {
    import java.io.File
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    def scalaFiles(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(scalaFiles)
      else Seq(f).filter(_.getName.endsWith(".scala"))
    // Metrics' map holds a listener's observed rows, not a session memo
    val mapAllowed = Set("graft/Caches.scala", "graft/streaming/Metrics.scala")
    val hits = scalaFiles(root).flatMap { f =>
      val rel = root.toPath.relativize(f.toPath).toString
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      (if (src.contains("identityHashCode")) Seq(s"$rel: identityHashCode") else Nil) ++
        (if (src.contains("ConcurrentHashMap") && !mapAllowed(rel))
          Seq(s"$rel: ConcurrentHashMap") else Nil)
    }
    assert(hits.isEmpty, s"session memos must go through Caches.memo: ${hits.mkString(", ")}")
  }
}
