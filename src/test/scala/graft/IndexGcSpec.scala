package graft

import java.nio.file.attribute.FileTime
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Indexes, Stores}

/** The index-generation GC (Stores.gcSiblings) had a purpose-built test
  * hook (`gcGraceMs`) but no spec driving it — the mark-then-sweep contract
  * was documentation only. Asserted here on a throwaway index root tag:
  * a superseded generation and an orphaned crashed-build tmp dir older than
  * the grace period are reclaimed by the next successful build; a
  * generation inside the grace window survives (another session may be
  * mid-read on it). */
class IndexGcSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def writeCorpus(dir: String, shift: Int): org.apache.spark.sql.DataFrame = {
    (0 until 32).map(i =>
        (i.toLong, Array.tabulate(8)(k => (i * 31 + k + shift).toFloat)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  test("aged superseded generations and orphan tmp dirs are swept; fresh ones survive") {
    val base = Files.createTempDirectory("idxgc").toString
    val sfTag = s"$base/corpus" // distinct tag isolates this test's index subdir
    val p1 = Indexes.ensureLshIndex(spark, writeCorpus(s"$base/data", 0),
      sfTag, bBits = 3, lTables = 2, dim = 8, partitionByBucket = false)
    assert(Files.exists(Paths.get(p1, "_SUCCESS")))

    // An orphaned tmp dir, as a crashed build would leave behind.
    val parent = Paths.get(p1).getParent
    val orphan = parent.resolve("lsh_b3_L2_s42_flat_deadbeef.tmp-123")
    Files.createDirectories(orphan)
    // Age both past the grace period.
    val old = FileTime.fromMillis(System.currentTimeMillis() - 3600 * 1000L)
    Files.setLastModifiedTime(Paths.get(p1), old)
    Files.setLastModifiedTime(orphan, old)

    // withGcGrace scopes the forced grace to THIS thread's sweeps only
    // (ADVICE r10: the old global-var hook could reclaim a generation a
    // concurrently-running suite was still reading).
    // New corpus content at the same path → new fingerprint → rebuild+sweep.
    val p2 = Stores.withGcGrace(1000L) {
      Indexes.ensureLshIndex(spark, writeCorpus(s"$base/data", 7),
        sfTag, bBits = 3, lTables = 2, dim = 8, partitionByBucket = false)
    }
    assert(p2 != p1, "new corpus content must rotate the index path")
    assert(!Files.exists(Paths.get(p1)),
      "aged superseded generation must be reclaimed by the sweep")
    assert(!Files.exists(orphan),
      "orphaned crashed-build tmp dir must be reclaimed by the sweep")
    assert(Files.exists(Paths.get(p2, "_SUCCESS")))

    // A generation still inside the grace window must survive the sweep.
    val p3 = Stores.withGcGrace(Long.MaxValue) {
      Indexes.ensureLshIndex(spark, writeCorpus(s"$base/data", 13),
        sfTag, bBits = 3, lTables = 2, dim = 8, partitionByBucket = false)
    }
    assert(p3 != p2)
    assert(Files.exists(Paths.get(p2)),
      "generation inside the grace window must survive (in-flight readers)")
  }

  test("the current generation's tombstone sidecar survives the sibling sweep") {
    // latent bug caught in round 12: `<gen>.tombstones` shares the family
    // prefix and differs from the generation name, so the prefix-match
    // sweep reclaimed an AGED sidecar while its generation lived —
    // silently resurrecting every deleted row after the grace period
    val base = Files.createTempDirectory("idxgc_ts").toString
    val sfTag = s"$base/corpus"
    val p1 = Indexes.ensureLshIndex(spark, writeCorpus(s"$base/data", 0),
      sfTag, bBits = 3, lTables = 2, dim = 8, partitionByBucket = false)
    // tombstone the LIVE generation, then age the sidecar past the grace
    graft.ops.Stores.tombstone(p1,
      spark.range(0, 4).selectExpr("id as vec_id"), "vec_id")
    val sidecar = Paths.get(s"$p1.tombstones")
    assert(Files.exists(sidecar))
    val old = FileTime.fromMillis(System.currentTimeMillis() - 3600 * 1000L)
    Files.setLastModifiedTime(sidecar, old)
    // an unrelated corpus of the family triggers a sweep at the same
    // parent; grace = 10 min, so the seconds-old p1 generation is safe
    // while the hour-aged sidecar is sweep-eligible — exactly the bug
    Stores.withGcGrace(10L * 60L * 1000L) {
      Indexes.ensureLshIndex(spark, writeCorpus(s"$base/data2", 3),
        sfTag, bBits = 3, lTables = 2, dim = 8, partitionByBucket = false)
    }
    assert(Files.exists(sidecar),
      "the live generation's delete sidecar must survive the sweep")
    // ...and the fold still applies after the sweep
    val visible = Indexes.readLshIndex(spark, p1)
      .select(org.apache.spark.sql.functions.col("vec_id"))
      .distinct().as[Long].collect().toSet
    assert(visible.intersect(Set(0L, 1L, 2L, 3L)).isEmpty)
    // when the generation itself is superseded and reclaimed, its (aged)
    // sidecar goes with it in the same sweep — sidecars reclaim only when
    // BOTH orphaned and past the grace (ADVICE r12: the bare existence
    // probe could race a non-atomic commit rename and sweep a live
    // generation's sidecar)
    Files.setLastModifiedTime(Paths.get(p1), old)
    Stores.withGcGrace(10L * 60L * 1000L) {
      Indexes.ensureLshIndex(spark, writeCorpus(s"$base/data", 9),
        sfTag, bBits = 3, lTables = 2, dim = 8, partitionByBucket = false)
    }
    assert(!Files.exists(Paths.get(p1)), "aged superseded generation reclaimed")
    assert(!Files.exists(sidecar),
      "the superseded generation's sidecar must be reclaimed with it")
  }

  test("durable e2e run dirs: aged sibling runs reclaimed; current and fresh survive") {
    // VERDICT r11 #6: applicationId namespacing left one permanent dir per
    // run under SPARK_GRAFT_E2E_STAGE_DIR — the run-dir chokepoint now
    // sweeps aged siblings with the shared grace knob/hook
    val base = Files.createTempDirectory("e2egc").toString + "/stages"
    val aged = Paths.get(base, "app-superseded-run")
    val fresh = Paths.get(base, "app-concurrent-run")
    val beating = Paths.get(base, "app-long-stage-run")
    Files.createDirectories(aged)
    Files.createDirectories(fresh)
    // ADVICE r12 shape: a run dir whose MTIME is stale (no new direct
    // child for longer than the grace — one long stage) but whose
    // heartbeat file is fresh is LIVE and must survive the sweep
    Files.createDirectories(beating)
    Files.write(beating.resolve(".heartbeat"), Array.empty[Byte])
    Files.setLastModifiedTime(aged,
      FileTime.fromMillis(System.currentTimeMillis() - 3600 * 1000L))
    Files.setLastModifiedTime(beating,
      FileTime.fromMillis(System.currentTimeMillis() - 3600 * 1000L))
    val dir = Stores.withGcGrace(1000L) {
      graft.engine.Stage.runScopedStageDir(spark, base)
    }
    assert(dir.endsWith(spark.sparkContext.applicationId))
    assert(!Files.exists(aged), "aged superseded run dir must be reclaimed")
    assert(Files.exists(fresh),
      "run dir inside the grace window must survive (may be mid-run)")
    assert(Files.exists(beating),
      "stale-mtime run dir with a fresh heartbeat is live and must survive")
    // the CURRENT application's own dir is never swept, even when aged —
    // a long-running app re-entering the pipeline must not eat its state
    val mine = Paths.get(base, spark.sparkContext.applicationId)
    Files.createDirectories(mine)
    Files.setLastModifiedTime(mine,
      FileTime.fromMillis(System.currentTimeMillis() - 3600 * 1000L))
    Stores.withGcGrace(1000L) {
      graft.engine.Stage.runScopedStageDir(spark, base)
    }
    assert(Files.exists(mine), "the current run's own dir must never be swept")
  }

  test("superseded version roots: aged vN siblings reclaimed; current and fresh survive") {
    import graft.ops.Indexes
    val base = java.nio.file.Paths.get(Stores.indexRoot).getParent
    java.nio.file.Files.createDirectories(base)
    val old = base.resolve("v0")
    val fresh = base.resolve("v1")
    val newer = base.resolve("v99")
    val notVersion = base.resolve("v0_backup")
    Seq(old, fresh, newer, notVersion)
      .foreach(java.nio.file.Files.createDirectories(_))
    // age v0, v99, and the non-version dir past the ≥6 h grace
    val aged = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - Stores.runDirGcGraceMsDefault - 60000L)
    java.nio.file.Files.setLastModifiedTime(old, aged)
    java.nio.file.Files.setLastModifiedTime(newer, aged)
    java.nio.file.Files.setLastModifiedTime(notVersion, aged)
    Stores.sweepLegacyVersionRoots(spark)
    assert(!java.nio.file.Files.exists(old),
      "an aged superseded version root (with its legacy-named families) is reclaimed")
    assert(java.nio.file.Files.exists(fresh),
      "a version root inside the grace window survives (a live older JVM)")
    assert(java.nio.file.Files.exists(newer),
      "a NEWER version root is never superseded: a lingering old binary " +
        "must not delete the next deployment's live indexes, whatever the mtime")
    assert(java.nio.file.Files.exists(notVersion),
      "only ^v\\d+$ dirs are version roots; anything else is never touched")
    java.nio.file.Files.deleteIfExists(fresh)
    java.nio.file.Files.deleteIfExists(newer)
    java.nio.file.Files.deleteIfExists(notVersion)
  }

  test("generic snapshot fence: rollback-republish history survives a pruning sweep") {
    // pointer history g1, g2, g1 (rollback), g3 with prunePointers: the
    // sweep must snapshot every successor mtime BEFORE deleting — retiring
    // g1 first prunes g1's pointers, and g2's supersessor IS g1's second
    // pointer; a lazy mid-sweep getFileStatus threw FileNotFoundException
    // and killed the maintenance stream (r19 ADVICE, fixed r20)
    import org.apache.spark.sql.functions._
    val base = Files.createTempDirectory("snapfence").toString
    val store = s"$base/store"
    val mdir = s"$base/manifest"
    def snap(tag: String, batch: Long): String =
      Stores.withGcGrace(Long.MaxValue) { // publish-only: no retirement yet
        Stores.publishStoreSnapshot(spark, store, mdir, batch) {
          Some(spark.range(3).select(col("id"), lit(tag).as("tag")))
        }.get
      }
    val g1 = snap("g1", 1L); Thread.sleep(30)
    val g2 = snap("g2", 2L); Thread.sleep(30)
    // rollback: flip BACK to g1 by republishing its existing dir
    Stores.publishGeneration(spark, mdir, g1); Thread.sleep(30)
    val g3 = snap("g3", 4L); Thread.sleep(30)

    val retired = Stores.withGcGrace(0L) {
      Stores.retireStoreSnapshots(spark, store, mdir) // must not throw
    }
    assert(retired.toSet === Set(g1, g2), s"retired: $retired")
    assert(!new java.io.File(g1).exists() && !new java.io.File(g2).exists())
    assert(new java.io.File(g3).exists(), "the current generation survives")
    assert(Stores.currentGeneration(spark, mdir) === Some(g3))
    // pruning: only the current generation's pointer remains
    val pointers = new java.io.File(mdir).listFiles()
      .map(_.getName).filter(_.startsWith("gen-")).toSeq
    assert(pointers.size === 1, s"retired generations' pointers pruned: $pointers")
  }
}
