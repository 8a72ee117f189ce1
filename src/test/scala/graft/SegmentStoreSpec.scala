package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.SegmentStore

/** Crash-safety and re-entrancy of the segment-store compaction
  * protocol (stage → COMMIT → swap) — the maintenance op that keeps the
  * streamed stores (st20/st21/st23) from the small-files death at
  * 100 TB. End-to-end result preservation is gated (d26/st24/st25);
  * this spec drives the protocol through its crash windows. */
class SegmentStoreSpec extends AnyFunSuite with CacheHygiene {

  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", 4).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  import spark.implicits._

  private def fs =
    new org.apache.hadoop.fs.Path("/").getFileSystem(
      spark.sparkContext.hadoopConfiguration)

  private def rm(dir: String): Unit =
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)

  /** A two-sub store shaped like the streamed stores: `vecs` with an
    * inner `cell=` partition level, `pairs` flat. */
  private def mkStore(dir: String): Unit = {
    rm(dir)
    def vecs(lo: Long, hi: Long) = spark.range(lo, hi)
      .select(col("id"), (col("id") % 3).cast("int").as("cell"))
    vecs(0, 40).write.partitionBy("cell").parquet(s"$dir/vecs/batch=base")
    vecs(40, 60).write.partitionBy("cell").parquet(s"$dir/vecs/batch=b1")
    vecs(60, 70).write.partitionBy("cell").parquet(s"$dir/vecs/batch=b2")
    vecs(70, 75).write.partitionBy("cell").parquet(s"$dir/vecs/batch=b10")
    Seq((1L, 2L)).toDF("a", "b").write.parquet(s"$dir/pairs/batch=b1")
    Seq((3L, 4L)).toDF("a", "b").write.parquet(s"$dir/pairs/batch=b2")
  }

  private def readIds(dir: String, sub: String): Set[Long] = {
    val df = spark.read.parquet(s"$dir/$sub").drop("batch")
    df.select(col(df.columns.head)).as[Long].collect().toSet
  }

  private def batchDirs(dir: String, sub: String): Set[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$sub")
    fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("batch=")).toSet
  }

  test("compaction folds ≤ upTo in natural order, preserves rows and cell dirs") {
    val dir = "target/qtmp/segstore_basic"
    mkStore(dir)
    val before = readIds(dir, "vecs")
    SegmentStore.compactSegmentStore(spark, dir, upTo = "b2")
    // b10 > b2 in NATURAL order (lexicographically it would fold) —
    // base, b1, b2 fold; b10 survives
    assert(batchDirs(dir, "vecs") == Set("batch=base", "batch=b10"))
    assert(batchDirs(dir, "pairs") == Set("batch=base"))
    assert(readIds(dir, "vecs") == before, "compaction changed the row union")
    assert(readIds(dir, "pairs") == Set(1L, 3L))
    // inner cell= partition dirs preserved inside the new base (the
    // probe's directory pruning survives the fold)
    val baseCells = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$dir/vecs/batch=base"))
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("cell=")).toSet
    assert(baseCells == Set("cell=0", "cell=1", "cell=2"))
    // post-compaction probes still prune at the partition-dir level
    val pruned = spark.read.parquet(s"$dir/vecs").drop("batch")
      .filter(col("cell") === 1)
    val plan = pruned.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined,
      s"cell pruning lost after compaction:\n$plan")
    // no leftover protocol state
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/.compact")))
    // re-run is a no-op (nothing besides base folds)
    SegmentStore.compactSegmentStore(spark, dir, upTo = "b2")
    assert(readIds(dir, "vecs") == before)
  }

  test("crash BEFORE the COMMIT marker: recovery discards the stage, store untouched") {
    val dir = "target/qtmp/segstore_precrash"
    mkStore(dir)
    val before = readIds(dir, "vecs")
    // simulate a crash mid-stage: stage dir exists, no COMMIT
    Seq((99L, 0)).toDF("id", "cell").write.partitionBy("cell")
      .parquet(s"$dir/.compact/stage/vecs")
    SegmentStore.compactSegmentStore(spark, dir, upTo = "b1")
    assert(readIds(dir, "vecs") == before,
      "a half-written stage leaked into the store")
    assert(batchDirs(dir, "vecs") ==
      Set("batch=base", "batch=b2", "batch=b10"),
      "recovery should discard the uncommitted stage, then run the " +
        "requested fold (base+b1)")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/.compact")))
  }

  test("crash AFTER the COMMIT marker: the next call finishes the recorded swap") {
    val dir = "target/qtmp/segstore_postcrash"
    mkStore(dir)
    val before = readIds(dir, "vecs")
    // stage + COMMIT, then "crash" (no swap)
    val plan = SegmentStore.stage(spark, fs, dir, "b2")
    assert(plan.isDefined)
    assert(fs.exists(
      new org.apache.hadoop.fs.Path(s"$dir/.compact/COMMIT")))
    assert(batchDirs(dir, "vecs").size == 4, "stage must not touch the store")
    // any later compaction call recovers first; upTo here folds nothing
    // new, so the result is exactly the crashed fold completed
    SegmentStore.compactSegmentStore(spark, dir, upTo = "b2")
    assert(batchDirs(dir, "vecs") == Set("batch=base", "batch=b10"))
    assert(readIds(dir, "vecs") == before)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/.compact")))
  }

  test("crash MID-swap: re-driving the marker completes idempotently") {
    val dir = "target/qtmp/segstore_midcrash"
    mkStore(dir)
    val before = readIds(dir, "vecs")
    val plan = SegmentStore.stage(spark, fs, dir, "b2")
    assert(plan.isDefined)
    // simulate a swap that died after deleting ONE folded segment
    rm(s"$dir/vecs/batch=b1")
    SegmentStore.compactSegmentStore(spark, dir, upTo = "b2")
    assert(batchDirs(dir, "vecs") == Set("batch=base", "batch=b10"))
    assert(readIds(dir, "vecs") == before,
      "mid-swap recovery lost rows (the staged fold holds them all)")
    // and a swap that died after the rename but before marker cleanup:
    // re-driving deletes nothing (exists-guarded) and just drops the
    // marker — run the whole protocol once more to prove re-entrancy
    val plan2 = SegmentStore.stage(spark, fs, dir, "b10")
    assert(plan2.isDefined)
    SegmentStore.swap(fs, dir, plan2.get)
    SegmentStore.recover(spark, dir) // no marker left: no-op
    assert(batchDirs(dir, "vecs") == Set("batch=base"))
    assert(readIds(dir, "vecs") == before)
  }

  test("compaction preserves the store-wide capstats sums") {
    import org.apache.spark.sql.DataFrame
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val dir = "target/qtmp/segstore_capstats"
    rm(dir)
    graft.dedup.Dedup.buildLshIndex(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", dir)
    graft.dedup.Dedup.appendToLshIndex(spark, dir,
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", "b1")
    def stats: (Long, Long) =
      graft.dedup.Census.readCapStats(spark, dir, excludeBatch = "-").get
    val before = stats
    SegmentStore.compactSegmentStore(spark, dir, upTo = "b1")
    // the capstats segments fold as plain row unions, so the store-wide
    // sums — and therefore every future append's derived cap — are
    // exactly preserved across the fold
    assert(stats == before,
      s"capstats sums changed across compaction: $before -> $stats")
    assert(batchDirs(dir, "capstats") == Set("batch=base"))
  }

  test("takedown rewrites segments minus matching rows; either pair endpoint kills the row") {
    val dir = "target/qtmp/segstore_takedown"
    mkStore(dir)
    // {2, 41} hit two vecs segments and pair (1,2)'s b endpoint; 60..69
    // wipe batch=b2 entirely — the emptied segment must DISAPPEAR
    val ids = ((Seq(2L, 41L) ++ (60L until 70L)).toDF("id"))
    SegmentStore.removeFromSegmentStore(spark, dir, ids,
      idCols = Map("vecs" -> Seq("id"), "pairs" -> Seq("a", "b")))
    assert(readIds(dir, "vecs") ==
      ((0L until 75L).toSet -- Set(2L, 41L) -- (60L until 70L)),
      "takedown left or lost the wrong vecs rows")
    assert(batchDirs(dir, "vecs") == Set("batch=base", "batch=b1", "batch=b10"),
      "an all-removed segment must disappear")
    assert(readIds(dir, "pairs") == Set(3L),
      "pair (1,2) must die via its b endpoint; (3,4) must survive")
    // inner cell= dirs preserved by the rewrite (probe pruning intact)
    val baseCells = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$dir/vecs/batch=base"))
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("cell=")).toSet
    assert(baseCells == Set("cell=0", "cell=1", "cell=2"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/.compact")))
    // idempotent: removing the same set again is a no-op rewrite
    SegmentStore.removeFromSegmentStore(spark, dir, ids,
      idCols = Map("vecs" -> Seq("id"), "pairs" -> Seq("a", "b")))
    assert(readIds(dir, "pairs") == Set(3L))
  }

  test("takedown crash AFTER the COMMIT marker: recovery finishes the rewrite") {
    val dir = "target/qtmp/segstore_takedown_crash"
    mkStore(dir)
    val ids = Seq(2L, 41L).toDF("id")
    val plan = SegmentStore.stageRemove(spark, fs, dir, ids,
      Map("vecs" -> Seq("id"), "pairs" -> Seq("a", "b")), None)
    assert(plan.isDefined && plan.get.mode == "rewrite")
    assert(readIds(dir, "vecs").contains(2L), "stage must not touch the store")
    // crash before swap; simulate a partially-driven swap too
    rm(s"$dir/vecs/batch=b1")
    SegmentStore.recover(spark, dir)
    assert(readIds(dir, "vecs") == ((0L until 75L).toSet -- Set(2L, 41L)))
    assert(batchDirs(dir, "vecs") ==
      Set("batch=base", "batch=b1", "batch=b2", "batch=b10"),
      "the staged rewrite of the manually-deleted segment must be renamed in")
    assert(readIds(dir, "pairs") == Set(3L))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/.compact")))
  }

  test("takedown recomputes capstats exactly (equal to a fresh build over survivors)") {
    import graft.dedup.{Census, Dedup}
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val old = docs.filter(col("doc_id") % 4 =!= 0)
    val b1 = docs.filter(col("doc_id") % 4 === 0)
    val removed = docs.filter(col("doc_id") % 8 === 1).select(col("doc_id"))
    val dirT = "target/qtmp/segstore_capstats_takedown"
    val dirF = "target/qtmp/segstore_capstats_fresh"
    rm(dirT); rm(dirF)
    Dedup.buildLshIndex(old, "doc_id", "text", dirT)
    Dedup.appendToLshIndex(spark, dirT, b1, "doc_id", "text", "b1")
    Dedup.removeFromLshIndex(spark, dirT, removed)
    // a store built directly on the survivors has the same deterministic
    // band rows per segment, so its capstats must match row-for-row
    Dedup.buildLshIndex(old.filter(col("doc_id") % 8 =!= 1),
      "doc_id", "text", dirF)
    Dedup.appendToLshIndex(spark, dirF, b1, "doc_id", "text", "b1")
    def stats(dir: String) = Census.readCapStats(spark, dir, "-").get
    assert(stats(dirT) == stats(dirF),
      s"takedown capstats drifted from ground truth: ${stats(dirT)} vs ${stats(dirF)}")
  }

  test("fold crash AFTER a sub's rename: re-drive must not re-delete the new base") {
    val dir = "target/qtmp/segstore_postrename"
    mkStore(dir)
    val before = readIds(dir, "vecs")
    val plan = SegmentStore.stage(spark, fs, dir, "b2")
    assert(plan.isDefined)
    // manually complete the 'pairs' sub's swap (delete folded segments,
    // rename its stage in as the new base), then "crash" with the
    // marker still present — the exact window the round-15 protocol
    // lost data in: re-driving used to re-delete batch=base (now the
    // ONLY copy of the folded pairs) because the unconditional delete
    // loop ran before the staged-dir existence check
    rm(s"$dir/pairs/batch=b1"); rm(s"$dir/pairs/batch=b2")
    assert(fs.rename(
      new org.apache.hadoop.fs.Path(s"$dir/.compact/stage/pairs"),
      new org.apache.hadoop.fs.Path(s"$dir/pairs/batch=base")))
    SegmentStore.compactSegmentStore(spark, dir, upTo = "b2")
    assert(readIds(dir, "pairs") == Set(1L, 3L),
      "re-driven swap deleted the already-renamed pairs base (data loss)")
    assert(batchDirs(dir, "pairs") == Set("batch=base"))
    assert(batchDirs(dir, "vecs") == Set("batch=base", "batch=b10"))
    assert(readIds(dir, "vecs") == before)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/.compact")))
  }

  test("takedown crash AFTER a segment's rename: re-drive preserves the renamed segment") {
    val dir = "target/qtmp/segstore_postrename_rm"
    mkStore(dir)
    val ids = Seq(2L, 41L).toDF("id")
    val plan = SegmentStore.stageRemove(spark, fs, dir, ids,
      Map("vecs" -> Seq("id"), "pairs" -> Seq("a", "b")), None)
    assert(plan.isDefined)
    // manually complete ONE segment's delete+rename, then "crash"
    rm(s"$dir/vecs/batch=b1")
    assert(fs.rename(
      new org.apache.hadoop.fs.Path(s"$dir/.compact/stage/vecs/batch=b1"),
      new org.apache.hadoop.fs.Path(s"$dir/vecs/batch=b1")))
    SegmentStore.recover(spark, dir)
    assert(readIds(dir, "vecs") == ((0L until 75L).toSet -- Set(2L, 41L)),
      "re-driven rewrite lost the already-renamed segment's rows")
    assert(batchDirs(dir, "vecs") ==
      Set("batch=base", "batch=b1", "batch=b2", "batch=b10"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/.compact")))
  }

  test("takedown that empties an entire sub keeps it readable (empty, schema intact)") {
    val dir = "target/qtmp/segstore_empty_sub"
    mkStore(dir)
    // every pair endpoint removed -> the pairs sub would have ZERO
    // batch dirs; later reads (append paths, gates) must get an empty
    // frame with the original schema, not unable-to-infer-schema
    val ids = Seq(1L, 2L, 3L, 4L).toDF("id")
    SegmentStore.removeFromSegmentStore(spark, dir, ids,
      idCols = Map("vecs" -> Seq("id"), "pairs" -> Seq("a", "b")))
    val pairs = spark.read.parquet(s"$dir/pairs")
    assert(pairs.count() == 0L)
    assert(pairs.columns.toSet == Set("a", "b", "batch"))
    assert(readIds(dir, "vecs") == ((0L until 75L).toSet -- Set(1L, 2L, 3L, 4L)))
    // re-entrancy survives the placeholder: a second identical takedown
    SegmentStore.removeFromSegmentStore(spark, dir, ids,
      idCols = Map("vecs" -> Seq("id"), "pairs" -> Seq("a", "b")))
    assert(spark.read.parquet(s"$dir/pairs").count() == 0L)
  }

  test("takedown on a pre-capstats store recomputes capstats fresh instead of throwing") {
    val dir = "target/qtmp/segstore_precapstats"
    mkStore(dir) // mkStore writes no capstats sub — the pre-round-15 layout
    SegmentStore.removeFromSegmentStore(spark, dir, Seq(2L).toDF("id"),
      idCols = Map("vecs" -> Seq("id")),
      capstatsFrom = Some(("vecs", Seq("id"))))
    assert(readIds(dir, "vecs") == ((0L until 75L).toSet - 2L))
    val cap = spark.read.parquet(s"$dir/capstats")
    assert(cap.agg(sum(col("s"))).head().getLong(0) == 74L,
      "capstats must be recomputed fresh over the rewritten segments")
  }

  test("purgeDropped: removed docs' content-derived keys leave the dropped census; others stay") {
    import graft.dedup.Dedup
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    // two distinct boilerplate clone groups -> two hot buckets in the
    // dropped census; the takedown removes group A's docs only
    def clones(txt: String, ids: Range) =
      ids.map(i => (i.toLong, txt)).toDF("doc_id", "text")
    val aTxt = "alpha banner text repeated verbatim across the whole crawl " +
      "with zero variation whatsoever in any single copy of it"
    val bTxt = "beta footer disclaimer stamped identically onto every page " +
      "of the archive without one character of difference anywhere"
    val dir = "target/qtmp/segstore_purgedropped"
    rm(dir)
    val base = docs.filter(col("doc_id") % 3 === 0)
      .unionByName(clones(aTxt, 100000 until 100040))
      .unionByName(clones(bTxt, 200000 until 200040))
    val b1 = docs.filter(col("doc_id") % 3 === 1)
      .unionByName(clones(aTxt, 100040 until 100045))
      .unionByName(clones(bTxt, 200040 until 200045))
    Dedup.buildLshIndex(base, "doc_id", "text", dir)
    Dedup.appendToLshIndex(spark, dir, b1, "doc_id", "text", "b1",
      threshold = 0.8, maxBucket = 16L)
    def keysOf(lo: Long): Set[(Int, Long)] = spark.read.parquet(s"$dir/bands")
      .filter(col("id") >= lo && col("id") < lo + 100000L)
      .select(col("band"), col("h")).distinct()
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val (aKeys, bKeys) = (keysOf(100000L), keysOf(200000L))
    def droppedKeys: Set[(Int, Long)] = spark.read.parquet(s"$dir/dropped")
      .select(col("band"), col("h")).distinct()
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert((droppedKeys & aKeys).nonEmpty && (droppedKeys & bKeys).nonEmpty,
      "fixture must census-drop both clone groups")
    val removed = (100000L until 100045L).toDF("doc_id")
    Dedup.removeFromLshIndex(spark, dir, removed, purgeDropped = true)
    assert((droppedKeys & aKeys).isEmpty,
      "purgeDropped left the removed group's fingerprint keys in dropped/")
    assert((droppedKeys & bKeys).nonEmpty,
      "purgeDropped must not purge keys the removed docs never produced")
    // default retention: a second takedown WITHOUT the flag keeps B's keys
    Dedup.removeFromLshIndex(spark, dir, Seq(200000L).toDF("doc_id"))
    assert((droppedKeys & bKeys).nonEmpty)
  }

  test("single-writer lease: a held lease fails the second writer loudly; stale leases recover") {
    val dir = "target/qtmp/segstore_lease"
    mkStore(dir)
    val before = readIds(dir, "vecs")
    val lease = new org.apache.hadoop.fs.Path(s"$dir/.compact.lease")
    // a live writer holds the lease -> the op must error, store untouched
    val out = fs.create(lease, false); out.write('x'); out.close()
    val e = intercept[IllegalStateException] {
      SegmentStore.compactSegmentStore(spark, dir, upTo = "b2")
    }
    assert(e.getMessage.contains("single-writer"))
    assert(batchDirs(dir, "vecs").size == 4, "loser touched the store")
    assert(readIds(dir, "vecs") == before)
    // the same lease gone STALE (older than the TTL) is overridden and
    // the op proceeds — crashed writers cannot wedge the store forever
    new java.io.File(s"$dir/.compact.lease")
      .setLastModified(System.currentTimeMillis - 10000L)
    SegmentStore.compactSegmentStore(spark, dir, upTo = "b2",
      leaseStaleMs = 5000L)
    assert(batchDirs(dir, "vecs") == Set("batch=base", "batch=b10"))
    assert(readIds(dir, "vecs") == before)
    assert(!fs.exists(lease), "winner must release the lease")
  }

  test("two concurrent compactions: at most one wins, the store stays exactly-equal") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = "target/qtmp/segstore_race"
    mkStore(dir)
    val before = readIds(dir, "vecs")
    val attempts = Seq(
      Future(try { SegmentStore.compactSegmentStore(spark, dir, "b2"); "ok" }
        catch { case _: IllegalStateException => "lost" }),
      Future(try { SegmentStore.compactSegmentStore(spark, dir, "b2"); "ok" }
        catch { case _: IllegalStateException => "lost" }))
    val outcomes = attempts.map(Await.result(_, 120.seconds))
    // overlap ⇒ exactly one loses on the lease; full serialization ⇒
    // both succeed (the second is a no-op fold) — either way the store
    // is exactly the single-compaction result
    assert(outcomes.count(_ == "ok") >= 1 && outcomes.count(_ == "lost") <= 1,
      s"unexpected outcomes: $outcomes")
    assert(batchDirs(dir, "vecs") == Set("batch=base", "batch=b10"))
    assert(readIds(dir, "vecs") == before,
      "racing compactions corrupted the store")
    assert(readIds(dir, "pairs") == Set(1L, 3L))
  }

  test("overrunning holder must not release the reclaimer's lease (token release)") {
    // r17 advisor finding: holder A overruns staleMs, thread B reclaims
    // (replaces the map entry + lease file); A's finally then must be a
    // NO-OP — the old unconditional delete+remove re-opened the
    // double-writer window for a third thread while B is mid-body.
    import scala.concurrent.{Await, Future, Promise}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = "target/qtmp/segstore_lease_tok"
    new java.io.File(dir).mkdirs()
    val lease = new org.apache.hadoop.fs.Path(s"$dir/.compact.lease")
    val aIn = Promise[Unit]()
    val aRelease = Promise[Unit]()
    val a = Future(SegmentStore.withLease(fs, dir, staleMs = 300L) {
      aIn.success(())
      Await.result(aRelease.future, 60.seconds)
      "a"
    })
    Await.result(aIn.future, 60.seconds)
    Thread.sleep(400L) // A overruns its staleMs
    // touch the file's mtime back so B's file-staleness check agrees
    new java.io.File(s"$dir/.compact.lease")
      .setLastModified(System.currentTimeMillis - 400L)
    val b = Future(SegmentStore.withLease(fs, dir, staleMs = 300L) {
      // B holds. Let A's finally run to completion NOW...
      aRelease.success(())
      Await.result(a, 60.seconds)
      // ...then the lease must STILL be B's: a third acquisition fails
      // loudly and B's lease file is still on disk
      val e = intercept[IllegalStateException] {
        SegmentStore.withLease(fs, dir, staleMs = 300L)("c")
      }
      assert(e.getMessage.contains("single-writer"))
      assert(fs.exists(lease), "A's finally deleted B's lease file")
      "b"
    })
    assert(Await.result(b, 60.seconds) == "b")
    assert(!fs.exists(lease), "B must release its own lease on exit")
  }

  test("an append whose pair write fails leaves no cached data; re-ingest gives the same pairs") {
    import graft.dedup.Dedup
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.s3f.impl", classOf[FlakyMockFileSystem].getName)
    hc.set("fs.s3f.impl.disable.cache", "true")
    // docs 2k and 2k+1 are near-duplicates; batch b1 holds the odd ones
    val docs = (0 until 200).map { i =>
      val text = (0 until 30).map(j => s"w${i / 2 * 31 + j}").mkString(" ")
      (i.toLong, if (i % 2 == 0) text else s"$text tail")
    }.toDF("doc_id", "text")
    val b0 = docs.filter(col("doc_id") % 2 === 0)
    val b1 = docs.filter(col("doc_id") % 2 === 1)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("a", "b").as[(Long, Long)].collect().toSet
    val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    // the LSH and the SimHash (Hamming) appends share the release discipline
    val appends = Seq[(String, String => Unit, String => org.apache.spark.sql.DataFrame)](
      ("lsh", Dedup.buildLshIndex(b0, "doc_id", "text", _),
        Dedup.appendToLshIndex(spark, _, b1, "doc_id", "text", "b1", threshold = 0.5)),
      ("simhash", Dedup.buildSimhashIndex(b0, "doc_id", "text", _),
        Dedup.appendToSimhashIndex(spark, _, b1, "doc_id", "text", "b1", maxHamming = 12)))
    for ((name, build, append) <- appends) {
      val local = new java.io.File(s"target/qtmp/failed_append_$name").getAbsolutePath
      val dir = s"s3f://test-bucket$local"
      rm(local); rm(s"$local-ref")
      build(dir)
      spark.catalog.clearCache()
      val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
      FlakyMockFileSystem.injectedFailures.set(0)
      FlakyMockFileSystem.failCreateUnder = "/pairs/"
      try intercept[Exception](append(dir))
      finally FlakyMockFileSystem.failCreateUnder = null
      assert(FlakyMockFileSystem.injectedFailures.get() > 0,
        s"$name: no write failure was injected — the test proved nothing")
      assert(cacheManager.isEmpty, s"$name: the failed append left frames cached")
      assert(spark.sparkContext.getPersistentRDDs.keySet == rddsBefore,
        s"$name: the failed append left cached blocks")
      // nothing of the failed attempt reached the store's segments
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$local/bands/batch=b1")))
      val again = pairSet(append(dir))
      build(s"$local-ref")
      val want = pairSet(append(s"$local-ref"))
      assert(want.nonEmpty, s"$name: the fixture should yield pairs")
      assert(again == want, s"$name: re-ingest after the failure gave " +
        s"extra=${again -- want} missing=${want -- again}")
      assert(cacheManager.isEmpty, s"$name: a successful append left frames cached")
    }
  }

  test("naturalLeq: digit runs compare numerically") {
    assert(SegmentStore.naturalLeq("b2", "b10"))
    assert(!SegmentStore.naturalLeq("b10", "b2"))
    assert(SegmentStore.naturalLeq("b10", "b10"))
    assert(SegmentStore.naturalLeq("a9", "b1"))
    assert(SegmentStore.naturalLeq("9", "10"))
    assert(!SegmentStore.naturalLeq("base", "b9")) // "base" vs "b"+digits
  }
}
