package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import org.apache.spark.sql.DataFrame

import graft.observe.{ArtifactSpec, Artifacts, Decomp, IndexStore}

/** Lifecycle properties of the persisted index-artifact store: build
  * once / read thereafter, rebuild on source change (no stale reads),
  * explicit invalidation, version bumps, and bounded retention. */
class IndexStoreSpec extends SparkSuite {

  // Each test uses its own artifact name + scratch source dir so suites
  // (and reruns in a warm JVM) never interfere.
  private def freshName(tag: String): String =
    s"spec_${tag}_${java.util.UUID.randomUUID().toString.take(8)}"

  private def writeSource(dir: String, values: Seq[Long]): Unit = {
    val s = spark
    import s.implicits._
    values.toDF("x").coalesce(1).write.mode("overwrite").parquet(dir)
  }

  private def scratch(tag: String): String =
    tempDir(s"graft-$tag").toString + "/src"

  // Ad-hoc specs over a scratch source dir: the empty table keys them
  // on the dir a read passes.
  private def full(name: String, version: Int = 1)(
      build: => DataFrame): ArtifactSpec =
    ArtifactSpec(name, version, "", Decomp.Full((_, _) => build))

  private def append(name: String)(full: => DataFrame)(
      incr: (DataFrame, Seq[String]) => DataFrame): ArtifactSpec =
    ArtifactSpec(name, 1, "", Decomp.Append((_, _) => full, (_, _) => incr))

  /** A spec for the read-only probes, which never build. */
  private def probe(name: String): ArtifactSpec =
    full(name)(sys.error("a probe never builds"))

  test("artifact builds once and is read back unchanged thereafter") {
    val name = freshName("once")
    val src = scratch("once")
    writeSource(src, 1L to 10L)
    var builds = 0
    def get() = IndexStore.read(spark, full(name) {
      builds += 1
      spark.read.parquet(src).agg(sum(col("x")).as("s"))
    }, src)
    val first = get().head().getLong(0)
    val second = get().head().getLong(0)
    assert(builds === 1, "second read must come from the persisted artifact")
    assert(first === 55L && second === 55L)
  }

  test("changed source data rebuilds; the stale artifact is never read") {
    val name = freshName("stale")
    val src = scratch("stale")
    writeSource(src, 1L to 10L)
    var builds = 0
    def get() = IndexStore.read(spark, full(name) {
      builds += 1
      spark.read.parquet(src).agg(sum(col("x")).as("s"))
    }, src)
    assert(get().head().getLong(0) === 55L)
    // rewrite the warehouse dir: new files → new fingerprint
    writeSource(src, 1L to 20L)
    assert(get().head().getLong(0) === 210L,
      "post-rewrite read must reflect the new source, not the old artifact")
    assert(builds === 2)
  }

  test("explicit invalidate forces a rebuild") {
    val name = freshName("inval")
    val src = scratch("inval")
    writeSource(src, 1L to 5L)
    var builds = 0
    def get() = IndexStore.read(spark, full(name) {
      builds += 1
      spark.read.parquet(src).agg(count(lit(1)).as("n"))
    }, src)
    get(); get()
    assert(builds === 1)
    IndexStore.invalidate(spark, name)
    get()
    assert(builds === 2)
  }

  test("version bump invalidates artifacts built by older logic") {
    val name = freshName("ver")
    val src = scratch("ver")
    writeSource(src, 1L to 5L)
    val v1 = IndexStore.read(spark, full(name, 1) {
      spark.range(1).select(lit("old").as("logic"))
    }, src).head().getString(0)
    val v2 = IndexStore.read(spark, full(name, 2) {
      spark.range(1).select(lit("new").as("logic"))
    }, src).head().getString(0)
    assert(v1 === "old" && v2 === "new")
  }

  test("retention: superseded fingerprints are reclaimed, bounded count kept") {
    val name = freshName("ret")
    val src = scratch("ret")
    (1 to 6).foreach { i =>
      writeSource(src, 1L to (i * 3).toLong)
      IndexStore.read(spark, full(name) {
        spark.read.parquet(src).agg(count(lit(1)).as("n"))
      }, src)
      // parquet overwrite within the same millisecond can produce an
      // identical (path,len,mtime) fingerprint for same-sized data;
      // distinct row counts above keep lengths distinct, and a small
      // sleep keeps mtimes monotonic for the retention sort
      Thread.sleep(5)
    }
    val root = sys.props("java.io.tmpdir").stripSuffix("/") + "/graft-index"
    val kept = new java.io.File(s"$root/$name").list().count(_.startsWith("fp="))
    assert(kept >= 1 && kept <= 4, s"kept $kept fingerprints")
  }

  test("incremental: pure append builds a delta segment chained to the " +
    "parent; read = parent ∪ delta; non-append falls back to full") {
    val name = freshName("incr")
    val src = scratch("incr")
    val s = spark
    import s.implicits._
    var fullBuilds = 0
    var incrBuilds = 0
    def get() = IndexStore.read(s, append(name)(
      { fullBuilds += 1; s.read.parquet(src) })(
      { (_, added) => incrBuilds += 1; s.read.parquet(added: _*) }), src)
    // base corpus
    Seq(1L, 2L, 3L).toDF("x").coalesce(1).write.mode("append").parquet(src)
    assert(get().collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L))
    assert((fullBuilds, incrBuilds) === ((1, 0)))
    // pure append: old part files untouched → delta path
    Thread.sleep(5)
    Seq(4L, 5L).toDF("x").coalesce(1).write.mode("append").parquet(src)
    assert(get().collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L, 4L, 5L))
    assert((fullBuilds, incrBuilds) === ((1, 1)),
      "append must take the incremental path, not rebuild")
    // second append chains one level deeper
    Thread.sleep(5)
    Seq(6L).toDF("x").coalesce(1).write.mode("append").parquet(src)
    assert(get().collect().map(_.getLong(0)).toSet ===
      Set(1L, 2L, 3L, 4L, 5L, 6L))
    assert((fullBuilds, incrBuilds) === ((1, 2)))
    // rewrite (not append): old files replaced → full rebuild
    Thread.sleep(5)
    Seq(7L, 8L).toDF("x").coalesce(1).write.mode("overwrite").parquet(src)
    assert(get().collect().map(_.getLong(0)).toSet === Set(7L, 8L))
    assert((fullBuilds, incrBuilds) === ((2, 2)),
      "a rewrite must fall back to the full build")
  }

  test("time travel: reading at the parent fingerprint serves the " +
    "pre-append snapshot; a reclaimed state fails loudly") {
    val name = freshName("asof")
    val src = scratch("asof")
    val s = spark
    import s.implicits._
    def get() = IndexStore.read(s, append(name)(
      s.read.parquet(src))(
      (_, added) => s.read.parquet(added: _*)), src)
    Seq(1L, 2L, 3L).toDF("x").coalesce(1).write.mode("append").parquet(src)
    get().collect()
    val fpBefore = IndexStore.fingerprint(s, src, 1)
    Thread.sleep(5)
    Seq(4L, 5L).toDF("x").coalesce(1).write.mode("append").parquet(src)
    assert(get().collect().map(_.getLong(0)).toSet ===
      Set(1L, 2L, 3L, 4L, 5L))
    // the parent segment is the version history: as-of = shorter scan
    assert(IndexStore.readAsOf(s, name, fpBefore)
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L),
      "as-of read must serve the pre-append snapshot")
    intercept[IllegalArgumentException] {
      IndexStore.readAsOf(s, name, "deadbeef")
    }
  }

  test("vacuumStaging reclaims only aged abandoned staging dirs; " +
    "published artifacts and fresh stages survive") {
    val name = freshName("vac")
    val src = scratch("vac")
    writeSource(src, 1L to 5L)
    IndexStore.read(spark, full(name) {
      spark.read.parquet(src)
    }, src).collect()
    // a crashed builder's leftovers: one aged stage, one in-flight
    val root = sys.props("java.io.tmpdir").stripSuffix("/") + "/graft-index"
    val aged = Paths.get(root, name, ".build-dead-1")
    val fresh = Paths.get(root, name, ".build-live-2")
    Files.createDirectories(aged)
    Files.write(aged.resolve("part-0.parquet"), Array.fill(64)(7.toByte))
    Files.setLastModifiedTime(aged,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 48L * 3600 * 1000))
    Files.createDirectories(fresh)
    val report = IndexStore.vacuumStaging(spark)
      .filter(col("artifact") === name).collect()
    assert(report.length === 1 && report(0).getString(1) === ".build-dead-1")
    assert(report(0).getLong(2) >= 64L)
    assert(!Files.exists(aged), "aged stage must be reclaimed")
    assert(Files.exists(fresh), "an in-flight stage must survive")
    assert(IndexStore.read(spark, full(name) {
      fail("published artifact must still serve without a rebuild")
    }, src).count() === 5L)
  }

  test("chain compaction folds the history into one standalone " +
    "segment: same fingerprint, same rows, depth 1; later appends " +
    "chain onto the compacted head; ancestors keep serving as-of") {
    val name = freshName("cpt")
    val src = scratch("cpt")
    val s = spark
    import s.implicits._
    def get() = IndexStore.read(s, append(name)(
      s.read.parquet(src))(
      (_, added) => s.read.parquet(added: _*)), src)
    def depth() = IndexStore.inventory(s)
      .filter(col("artifact") === name &&
        col("fingerprint") === IndexStore.fingerprint(s, src, 1))
      .select("chain_depth").head().getInt(0)
    Seq(1L, 2L).toDF("x").coalesce(1).write.mode("append").parquet(src)
    get().collect()
    val fpBase = IndexStore.fingerprint(s, src, 1)
    Thread.sleep(5)
    Seq(3L).toDF("x").coalesce(1).write.mode("append").parquet(src)
    get().collect()
    Thread.sleep(5)
    Seq(4L).toDF("x").coalesce(1).write.mode("append").parquet(src)
    get().collect()
    assert(depth() === 3)
    assert(IndexStore.compactChain(s, probe(name), src))
    assert(depth() === 1, "compaction must fold the chain")
    assert(get().collect().map(_.getLong(0)).toSet ===
      Set(1L, 2L, 3L, 4L), "content is unchanged by compaction")
    assert(!IndexStore.compactChain(s, probe(name), src),
      "an already-standalone head has nothing to fold")
    // the ancestor snapshot survives for time travel
    assert(IndexStore.readAsOf(s, name, fpBase)
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    // a later append chains onto the COMPACTED head
    Thread.sleep(5)
    Seq(5L).toDF("x").coalesce(1).write.mode("append").parquet(src)
    assert(get().collect().map(_.getLong(0)).toSet ===
      Set(1L, 2L, 3L, 4L, 5L))
    assert(depth() === 2,
      "the incremental path must treat the compacted head as a parent")
  }

  test("deep chains auto-fold: once the live chain passes the depth " +
    "bound an append compacts it back to a standalone head; retained " +
    "as-of snapshots survive the fold") {
    val name = freshName("autofold")
    val src = scratch("autofold")
    val s = spark
    import s.implicits._
    def get() = IndexStore.read(s, append(name)(
      s.read.parquet(src))(
      (_, added) => s.read.parquet(added: _*)), src)
    def depth() = IndexStore.inventory(s)
      .filter(col("artifact") === name &&
        col("fingerprint") === IndexStore.fingerprint(s, src, 1))
      .select("chain_depth").head().getInt(0)
    Seq(0L).toDF("x").coalesce(1).write.mode("append").parquet(src)
    get().collect()
    var fpMid: String = null
    (1 to 9).foreach { i =>
      Thread.sleep(5)
      Seq(i.toLong).toDF("x").coalesce(1).write.mode("append").parquet(src)
      get().collect()
      if (i == 4) fpMid = IndexStore.fingerprint(s, src, 1)
    }
    // without the auto-fold the chain would be 10 deep (base + 9
    // deltas); the fold at depth 9 leaves the 9th append chaining onto
    // a standalone compacted head
    assert(depth() === 2,
      s"chain depth ${depth()}: the deep chain must have auto-folded")
    assert(get().collect().map(_.getLong(0)).toSet ===
      (0L to 9L).toSet, "content must be complete across the fold")
    assert(IndexStore.readAsOf(s, name, fpMid)
      .collect().map(_.getLong(0)).toSet === (0L to 4L).toSet,
      "a pre-fold snapshot must keep serving as-of reads")
  }

  test("concurrent reader during compaction: an unsynchronized reader " +
    "resolving the head mid-fold always sees a complete segment list — " +
    "no retry, no torn read; vacuum then reclaims the superseded data " +
    "and reads still serve through the pointer") {
    val name = freshName("race")
    val src = scratch("race")
    val s = spark
    import s.implicits._
    def get() = IndexStore.read(s, append(name)(
      s.read.parquet(src))(
      (_, added) => s.read.parquet(added: _*)), src)
    Seq(1L, 2L).toDF("x").coalesce(1).write.mode("append").parquet(src)
    get().collect()
    Thread.sleep(5)
    Seq(3L).toDF("x").coalesce(1).write.mode("append").parquet(src)
    get().collect()
    Thread.sleep(5)
    Seq(4L).toDF("x").coalesce(1).write.mode("append").parquet(src)
    get().collect() // 3-segment chain
    val fp = IndexStore.fingerprint(s, src, 1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val reads = new java.util.concurrent.ConcurrentLinkedQueue[Set[Long]]()
    @volatile var stop = false
    // the reader takes NO lock and re-resolves the head's file list on
    // every iteration — the cross-process reader the old rename-swap
    // could yank files from
    val reader = new Thread(() => {
      while (!stop) {
        try reads.add(IndexStore.readAsOf(s, name, fp)
          .collect().map(_.getLong(0)).toSet)
        catch { case t: Throwable => errs.add(t) }
      }
    })
    reader.start()
    try {
      Thread.sleep(100) // reads in flight
      assert(IndexStore.compactChain(s, probe(name), src))
      Thread.sleep(300) // post-fold reads through the pointer
    } finally { stop = true; reader.join() }
    assert(errs.isEmpty,
      s"reader must never see a torn/missing segment list: ${errs.peek()}")
    assert(!reads.isEmpty)
    reads.forEach(r => assert(r === Set(1L, 2L, 3L, 4L),
      "every concurrent read must return the complete content"))
    // deferred delete: the superseded pre-compaction files are still on
    // disk (left for in-flight readers) until vacuum's age floor —
    // with a zero floor it reclaims them now, and the head keeps
    // serving through the pointer
    val report = IndexStore.vacuumStaging(s, olderThanMs = 0L)
      .filter(org.apache.spark.sql.functions.col("artifact") === name)
      .collect()
    assert(report.exists(_.getString(1).contains("<pre-compaction>")),
      s"vacuum must report the deferred reclaim: ${report.mkString(";")}")
    assert(IndexStore.readAsOf(s, name, fp)
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L, 4L),
      "post-vacuum reads serve the folded segment via the pointer")
    // and an abandoned fold (a compactor that crashed before its
    // pointer rename) is reclaimed once aged: fabricate one
    val root = sys.props("java.io.tmpdir").stripSuffix("/") + "/graft-index"
    val dead = java.nio.file.Paths.get(root, name, "seg-dead-1")
    java.nio.file.Files.createDirectories(dead)
    java.nio.file.Files.write(dead.resolve("part-0.parquet"),
      Array.fill(16)(2.toByte))
    java.nio.file.Files.setLastModifiedTime(dead,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 48L * 3600 * 1000))
    val r2 = IndexStore.vacuumStaging(s)
      .filter(org.apache.spark.sql.functions.col("artifact") === name)
      .collect()
    assert(r2.exists(_.getString(1) === "seg-dead-1"),
      "an aged unreferenced fold must be reclaimed")
    assert(!java.nio.file.Files.exists(dead))
  }

  test("manifestLine folds an exposed etag into the fingerprint " +
    "preimage: same (path, len, mtime) with a different etag is a " +
    "different source state; plain statuses keep the classic triple") {
    import org.apache.hadoop.fs.{FileStatus, Path => HPath}
    // the S3A/ABFS-shaped status: exposes getETag (probed reflectively
    // by manifestLine, so no object-store client is linked)
    class EtagStatus(len: Long, mtime: Long, p: HPath, etag: String)
        extends FileStatus(len, false, 1, 4096, mtime, p) {
      def getETag: String = etag
    }
    val p = new HPath("/warehouse/part-0.parquet")
    val a = IndexStore.manifestLine(new EtagStatus(10, 1000, p, "e1"))
    val b = IndexStore.manifestLine(new EtagStatus(10, 1000, p, "e2"))
    assert(a === s"$p|10|1000|e1" && b === s"$p|10|1000|e2" && a != b,
      "a same-size same-mtime rewrite must still move the manifest line")
    val plain = IndexStore.manifestLine(
      new FileStatus(10, false, 1, 4096, 1000, p))
    assert(plain === s"$p|10|1000",
      "filesystems without a checksum keep the classic triple")
  }

  test("vacuumStaging also reclaims aged .old-* compaction leftovers") {
    val name = freshName("vacold")
    val src = scratch("vacold")
    writeSource(src, 1L to 3L)
    IndexStore.read(spark, full(name) {
      spark.read.parquet(src)
    }, src).collect()
    val root = sys.props("java.io.tmpdir").stripSuffix("/") + "/graft-index"
    val aged = Paths.get(root, name, ".old-dead-1")
    Files.createDirectories(aged)
    Files.write(aged.resolve("part-0.parquet"), Array.fill(32)(1.toByte))
    Files.setLastModifiedTime(aged,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 48L * 3600 * 1000))
    val report = IndexStore.vacuumStaging(spark)
      .filter(col("artifact") === name).collect()
    assert(report.length === 1 && report(0).getString(1) === ".old-dead-1")
    assert(!Files.exists(aged), "aged .old-* leftover must be reclaimed")
  }

  test("inventory: the store describes its own artifacts — head, " +
    "chain depth, file/byte footprint") {
    val name = freshName("inv")
    val src = scratch("inv")
    val s = spark
    import s.implicits._
    def get() = IndexStore.read(s, append(name)(
      s.read.parquet(src))((_, added) => s.read.parquet(added: _*)), src)
    Seq(1L, 2L).toDF("x").coalesce(1).write.mode("append").parquet(src)
    get().count()
    def row(fp: String) = IndexStore.inventory(s)
      .filter(col("artifact") === name && col("fingerprint") === fp)
      .collect()
    val fp1 = IndexStore.fingerprint(s, src, 1)
    val r1 = row(fp1)
    assert(r1.length === 1)
    assert(r1.head.getAs[Boolean]("published"))
    assert(!r1.head.getAs[Boolean]("chained"))
    assert(r1.head.getAs[Int]("chain_depth") === 1)
    assert(r1.head.getAs[Boolean]("chain_intact"))
    assert(r1.head.getAs[Long]("n_files") > 0)
    assert(r1.head.getAs[Long]("bytes") > 0)
    // a pure append publishes a chained head whose footprint covers
    // BOTH segments (what a read of that head scans)
    Thread.sleep(5)
    Seq(3L).toDF("x").coalesce(1).write.mode("append").parquet(src)
    get().count()
    val fp2 = IndexStore.fingerprint(s, src, 1)
    val r2 = row(fp2)
    assert(r2.length === 1)
    assert(r2.head.getAs[Boolean]("chained"))
    assert(r2.head.getAs[Int]("chain_depth") === 2)
    assert(r2.head.getAs[Long]("bytes") > r1.head.getAs[Long]("bytes"),
      "the chained head's footprint must cover parent + delta")
  }

  test("incremental: incr may decline with null — the build falls back " +
    "to full (the drift-retrain hook)") {
    val name = freshName("decl")
    val src = scratch("decl")
    val s = spark
    import s.implicits._
    var fullBuilds = 0
    def get() = IndexStore.read(s, append(name)(
      { fullBuilds += 1; s.read.parquet(src) })(
      { (_, _) => null }), src)
    Seq(1L, 2L).toDF("x").coalesce(1).write.mode("append").parquet(src)
    get().count()
    Thread.sleep(5)
    Seq(3L).toDF("x").coalesce(1).write.mode("append").parquet(src)
    assert(get().collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L))
    assert(fullBuilds === 2, "declined delta must rebuild from scratch")
    assert(!IndexStore.isChained(s, probe(name), src),
      "a declined delta must publish a standalone full build")
  }

  test("orphaned chain recovers: a head whose parent segment was " +
    "reclaimed rebuilds instead of failing path-not-found") {
    val name = freshName("orph")
    val src = scratch("orph")
    val s = spark
    import s.implicits._
    var fullBuilds = 0
    def get() = IndexStore.read(s, append(name)(
      { fullBuilds += 1; s.read.parquet(src) })(
      { (_, added) => s.read.parquet(added: _*) }), src)
    Seq(1L, 2L).toDF("x").coalesce(1).write.mode("append").parquet(src)
    get().count()
    Thread.sleep(5)
    Seq(3L).toDF("x").coalesce(1).write.mode("append").parquet(src)
    get().count() // chained head
    val root = sys.props("java.io.tmpdir").stripSuffix("/") + "/graft-index"
    val fp = IndexStore.fingerprint(spark, src, 1)
    val head = Paths.get(s"$root/$name/fp=$fp")
    val parentFp = new String(
      Files.readAllBytes(head.resolve("_PARENT"))).trim
    assert(parentFp.nonEmpty)
    // simulate ancestor reclamation (the retention hazard): the head
    // remains published but its parent segment is gone
    val parentDir = new java.io.File(s"$root/$name/fp=$parentFp")
    parentDir.listFiles().foreach(_.delete()); parentDir.delete()
    // a naive read of the head's chain would now throw path-not-found
    // forever; the store must detect the broken chain and rebuild
    assert(get().collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L))
    assert(fullBuilds === 2, "broken chain must trigger a full rebuild")
  }

  test("two builders racing readOrBuild on one artifact: the loser " +
    "discards its staging and reads the winner's artifact — no torn " +
    "chain, no orphaned staging, no double-publish") {
    val name = freshName("race")
    val src = scratch("race")
    writeSource(src, 1L to 10L)
    var innerBuilds = 0
    var outerBuilds = 0
    // Simulate a second PROCESS winning the publication race
    // deterministically: the per-name JVM lock is REENTRANT, so a
    // nested read issued from inside the outer builder's build
    // thunk exercises exactly the filesystem protocol a concurrent
    // process would — it sees no published artifact, stages, and
    // renames into the final path BEFORE the outer builder reaches its
    // own publish step. The outer builder must then hit the
    // lost-the-race branch: _SUCCESS exists → discard own staging,
    // serve the winner's (by construction equivalent) artifact.
    val res = IndexStore.read(spark, full(name) {
      IndexStore.read(spark, full(name) {
        innerBuilds += 1
        spark.read.parquet(src).agg(sum(col("x")).as("s"))
      }, src).collect()
      outerBuilds += 1
      spark.read.parquet(src).agg(sum(col("x")).as("s"))
    }, src)
    assert(innerBuilds === 1 && outerBuilds === 1,
      "both builders must have actually built")
    assert(res.head().getLong(0) === 55L)
    val root = sys.props("java.io.tmpdir").stripSuffix("/") + "/graft-index"
    val base = new java.io.File(s"$root/$name")
    val entries = Option(base.listFiles()).getOrElse(Array.empty)
    assert(!entries.exists(_.getName.startsWith(".build-")),
      s"loser must discard its staging immediately (not wait for " +
        s"vacuum): ${entries.map(_.getName).mkString(",")}")
    val heads = entries.filter(_.getName.startsWith("fp="))
    assert(heads.length === 1, "exactly one published head")
    assert(new java.io.File(heads.head, "_SUCCESS").exists())
    // the published artifact serves a third reader without any rebuild
    assert(IndexStore.read(spark, full(name) {
      fail("race aftermath must serve, not rebuild")
    }, src).head().getLong(0) === 55L)
  }

  test("TWO-PROCESS builder race: two JVMs provably inside the build " +
    "window together; one publishes, the loser discards its staging " +
    "and serves the winner's artifact") {
    val name = freshName("race2p")
    val src = scratch("race2p")
    writeSource(src, 1L to 10L)
    val barrier = tempDir("graft_race_barrier").toString
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    def spawn(id: String): (Process, StringBuilder, Thread) = {
      val cmd = Seq(javaBin, "-Xmx1g", "-Dspark.ui.enabled=false"
      ) ++ addOpens ++ Seq(
        "-cp", System.getProperty("java.class.path"),
        "graft.RaceRun", src, name, id, barrier)
      val proc = new ProcessBuilder(cmd: _*)
        .redirectErrorStream(true).start()
      val out = new StringBuilder
      val t = new Thread(() => {
        val r = new java.io.BufferedReader(
          new java.io.InputStreamReader(proc.getInputStream))
        var line = r.readLine()
        while (line != null) {
          if (line.contains("[race]") || line.contains("Exception"))
            out.synchronized { out.append(line).append('\n') }
          line = r.readLine()
        }
      })
      t.setDaemon(true); t.start()
      (proc, out, t)
    }
    val (pa, oa, ta) = spawn("A")
    val (pb, ob, tb) = spawn("B")
    val doneA = pa.waitFor(10, java.util.concurrent.TimeUnit.MINUTES)
    val doneB = pb.waitFor(10, java.util.concurrent.TimeUnit.MINUTES)
    if (!doneA) pa.destroyForcibly()
    if (!doneB) pb.destroyForcibly()
    assert(doneA && doneB, "both racing children must finish")
    // child exit does NOT mean the pipe is drained: join the readers
    // before asserting on their buffers, or the final '[race] served'
    // line can still be in flight (and StringBuilder is not safe for a
    // concurrent read while the reader appends)
    ta.join(30000); tb.join(30000)
    assert(pa.exitValue() === 0, s"child A failed:\n$oa")
    assert(pb.exitValue() === 0, s"child B failed:\n$ob")
    // BOTH entered the build window (the barrier guarantees genuine
    // overlap — neither merely read the other's finished artifact)...
    assert(oa.toString.contains("built sum=55"), s"A never built:\n$oa")
    assert(ob.toString.contains("built sum=55"), s"B never built:\n$ob")
    // ...and both serve the same published value
    assert(oa.toString.contains("served sum=55"), oa.toString)
    assert(ob.toString.contains("served sum=55"), ob.toString)
    // store state: exactly one published head, zero staging debris
    val root = sys.props("java.io.tmpdir").stripSuffix("/") + "/graft-index"
    val entries = Option(new java.io.File(s"$root/$name").listFiles())
      .getOrElse(Array.empty)
    assert(!entries.exists(_.getName.startsWith(".build-")),
      s"loser must discard staging: ${entries.map(_.getName).mkString(",")}")
    val heads = entries.filter(_.getName.startsWith("fp="))
    assert(heads.length === 1, "exactly one published head")
    assert(new java.io.File(heads.head, "_SUCCESS").exists())
    // the parent session (a third process, in effect) serves the
    // winner's artifact without any rebuild
    assert(IndexStore.read(spark, full(name) {
      fail("race aftermath must serve, not rebuild")
    }, src).head().getLong(0) === 55L)
  }

  test("vacuumStaging reclaims an aged _HEAD.tmp-* pointer file (a " +
    "compactor crash between temp write and rename); the artifact " +
    "keeps serving") {
    val name = freshName("tmphead")
    val src = scratch("tmphead")
    writeSource(src, 1L to 3L)
    IndexStore.read(spark, full(name) {
      spark.read.parquet(src)
    }, src).collect()
    val root = sys.props("java.io.tmpdir").stripSuffix("/") + "/graft-index"
    val fp = IndexStore.fingerprint(spark, src, 1)
    val head = Paths.get(s"$root/$name/fp=$fp")
    val aged = head.resolve("_HEAD.tmp-123")
    Files.write(aged, "seg-never-published".getBytes)
    Files.setLastModifiedTime(aged,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 48L * 3600 * 1000))
    val fresh = head.resolve("_HEAD.tmp-456")
    Files.write(fresh, "seg-in-flight".getBytes)
    val report = IndexStore.vacuumStaging(spark)
      .filter(col("artifact") === name).collect()
    assert(report.length === 1 &&
      report(0).getString(1).endsWith("_HEAD.tmp-123"))
    assert(!Files.exists(aged), "aged tmp pointer must be reclaimed")
    assert(Files.exists(fresh), "an in-flight tmp pointer must survive")
    assert(IndexStore.read(spark, full(name) {
      fail("artifact must still serve without a rebuild")
    }, src).count() === 3L)
  }

  test("a compacted head that lost BOTH its pointer target's _SUCCESS " +
    "and (to vacuum's deferred delete) its own data files is " +
    "non-servable: the next read rebuilds instead of failing at scan") {
    val name = freshName("torn")
    val src = scratch("torn")
    val s = spark
    import s.implicits._
    var builds = 0
    var deltas = 0
    def get() = IndexStore.read(s, append(name)(
      { builds += 1; s.read.parquet(src) })(
      (_, added) => { deltas += 1; s.read.parquet(added: _*) }), src)
    Seq(1L, 2L, 3L).toDF("x").coalesce(1).write.mode("append").parquet(src)
    get().collect()
    Thread.sleep(5)
    Seq(4L, 5L).toDF("x").coalesce(1).write.mode("append").parquet(src)
    get().collect() // chain depth 2
    assert(IndexStore.compactChain(s, probe(name), src), "fold must happen")
    val root = sys.props("java.io.tmpdir").stripSuffix("/") + "/graft-index"
    val fp = IndexStore.fingerprint(s, src, 1)
    val head = Paths.get(s"$root/$name/fp=$fp")
    // age the pointer past the floor so vacuum's deferred delete
    // reclaims the pre-compaction data files under the fp= dir
    Files.setLastModifiedTime(head.resolve("_HEAD"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 48L * 3600 * 1000))
    IndexStore.vacuumStaging(spark).collect()
    assert(!head.toFile.listFiles().exists(f =>
      !f.isDirectory && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".")),
      "deferred delete must have emptied the fp= dir's data files")
    // now tear the pointer target: the compacted segment loses _SUCCESS
    val segName = new String(Files.readAllBytes(head.resolve("_HEAD"))).trim
    assert(Files.deleteIfExists(
      Paths.get(s"$root/$name/$segName/_SUCCESS")))
    // pre-fix, this read passed the servable checks (the fp= dir keeps
    // its own _SUCCESS) and exploded at SCAN time with no data files;
    // it must instead detect the torn state and re-publish — a full
    // rebuild, or a re-parent onto the still-intact pre-append head
    builds = 0; deltas = 0
    assert(get().collect().map(_.getLong(0)).toSet ===
      Set(1L, 2L, 3L, 4L, 5L))
    assert(builds + deltas === 1,
      "torn compacted head must trigger a rebuild or re-parent")
  }

  test("fingerprint: stable for unchanged sources, sensitive to content " +
    "and version, defined for missing dirs") {
    val src = scratch("fp")
    writeSource(src, 1L to 5L)
    val a = IndexStore.fingerprint(spark, src, 1)
    val b = IndexStore.fingerprint(spark, src, 1)
    assert(a === b)
    assert(IndexStore.fingerprint(spark, src, 2) !== a)
    Thread.sleep(5)
    writeSource(src, 1L to 6L)
    assert(IndexStore.fingerprint(spark, src, 1) !== a)
    val missing = IndexStore.fingerprint(spark, src + "/nope", 1)
    assert(missing.nonEmpty)
  }

  // ---- delete-aware maintenance (round-9 task 2) ------------------------

  /** Data files (non-underscore, non-hidden) directly under a dir. */
  private def dataFiles(dir: String): Seq[java.io.File] = {
    val d = new java.io.File(dir)
    Option(d.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
  }

  private def storeRoot: String =
    spark.conf.getOption("spark.graft.indexDir").getOrElse(
      sys.props("java.io.tmpdir").stripSuffix("/") + "/graft-index")

  test("segmented store: a deletion EXCISES the chain — only the " +
    "touched segment's surviving files are re-fed to the build, " +
    "untouched segments above it re-link as zero-copy _REUSE " +
    "pointers, and the result equals a from-scratch rebuild") {
    val name = freshName("excise")
    val src = scratch("excise")
    val s = spark
    import s.implicits._
    val calls = scala.collection.mutable.Buffer.empty[Seq[String]]
    def get() = IndexStore.read(s, ArtifactSpec(name, 1, "",
      Decomp.Segmented((_, _) =>
        files => { calls += files.sorted; s.read.parquet(files: _*) })), src)
    def fileSet() = dataFiles(src).map(_.getName).toSet
    // segment 1: one file
    Seq(1L, 2L, 3L).toDF("x").coalesce(1).write.mode("append").parquet(src)
    assert(get().collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L))
    // segment 2: TWO files (two separate appends folded by one build)
    Thread.sleep(5)
    val before2 = fileSet()
    Seq(4L).toDF("x").coalesce(1).write.mode("append").parquet(src)
    Seq(5L).toDF("x").coalesce(1).write.mode("append").parquet(src)
    val seg2Files = (fileSet() -- before2).toSeq.sorted
    assert(seg2Files.size === 2)
    assert(get().collect().map(_.getLong(0)).toSet === (1L to 5L).toSet)
    // segment 3: one more file — chain depth 3
    Thread.sleep(5)
    val before3 = fileSet()
    Seq(6L).toDF("x").coalesce(1).write.mode("append").parquet(src)
    val seg3File = (fileSet() -- before3).head
    assert(get().collect().map(_.getLong(0)).toSet === (1L to 6L).toSet)
    // DELETE one of segment 2's two files (the row holding 4 or 5)
    calls.clear()
    val victim = new java.io.File(src, seg2Files.head)
    val survivorRows = {
      val kept = s.read.parquet(s"$src/${seg2Files(1)}")
        .collect().map(_.getLong(0)).toSet
      kept
    }
    assert(victim.delete(), "fixture must delete the victim file")
    val afterDelete = get().collect().map(_.getLong(0)).toSet
    assert(afterDelete === Set(1L, 2L, 3L, 6L) ++ survivorRows,
      "the deleted file's rows must vanish, everything else stays")
    // THE excision proof: the only build call re-fed EXACTLY the
    // touched segment's surviving file — not the corpus, not the
    // untouched segments
    assert(calls.size === 1,
      s"excision must invoke the build once, got ${calls.size}")
    assert(calls.head === Seq(s"file:$src/${seg2Files(1)}") ||
      calls.head.map(_.stripPrefix("file:")) ===
        Seq(s"$src/${seg2Files(1)}"),
      s"rebuild must touch only the survivor of the touched window: " +
        s"${calls.head}")
    // the untouched segment ABOVE the cut re-linked as a _REUSE pointer
    val artDir = new java.io.File(s"$storeRoot/$name")
    val reuse = Option(artDir.listFiles()).map(_.toSeq).getOrElse(Nil)
      .filter(d => d.isDirectory &&
        new java.io.File(d, "_REUSE").exists())
    assert(reuse.nonEmpty, "segment 3 must re-link as a _REUSE pointer")
    reuse.foreach { d =>
      assert(!dataFiles(d.toString).exists(_.getName.endsWith(".parquet")),
        "a reuse pointer dir must carry NO copied data files")
    }
    // ≡ from-scratch: invalidate and rebuild the reduced corpus fully
    val excised = afterDelete
    IndexStore.invalidate(s, name)
    calls.clear()
    assert(get().collect().map(_.getLong(0)).toSet === excised,
      "excised chain must equal the from-scratch rebuild")
    // and the store keeps serving + appending on the excised chain
    Thread.sleep(5)
    calls.clear()
    Seq(7L).toDF("x").coalesce(1).write.mode("append").parquet(src)
    assert(get().collect().map(_.getLong(0)).toSet === excised + 7L)
    assert(calls.size === 1 && calls.head.size === 1,
      "a post-excision append must take the one-file delta path")
  }

  test("delete-one-source ≡ from-scratch rebuild for the mix-count " +
    "chain: a takedown re-tokenizes only the touched segment") {
    val s = spark
    import org.apache.spark.sql.functions._
    val wh = tempDir("graft-del-counts").toString
    val docsDir = s"$wh/documents.parquet"
    val all = Tables.load(s, sf, "documents")
    // three appends → a 3-segment chain
    all.filter(col("doc_id") % 3 === 0).coalesce(1)
      .write.mode("append").parquet(docsDir)
    graft.ops.Llm.sourceTokenCounts(s, wh).count()
    Thread.sleep(5)
    val before2 = dataFiles(docsDir).map(_.getName).toSet
    all.filter(col("doc_id") % 3 === 1).coalesce(1)
      .write.mode("append").parquet(docsDir)
    val seg2File = (dataFiles(docsDir).map(_.getName).toSet -- before2).head
    graft.ops.Llm.sourceTokenCounts(s, wh).count()
    Thread.sleep(5)
    all.filter(col("doc_id") % 3 === 2).coalesce(1)
      .write.mode("append").parquet(docsDir)
    graft.ops.Llm.sourceTokenCounts(s, wh).count()
    // takedown: segment 2's source file goes away
    assert(new java.io.File(docsDir, seg2File).delete())
    val excised = graft.ops.Llm.sourceTokenCounts(s, wh)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    // from-scratch ground truth over the REDUCED corpus
    IndexStore.invalidate(s, "source_token_counts")
    val rebuilt = graft.ops.Llm.sourceTokenCounts(s, wh)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(excised === rebuilt,
      "excised mix counts must equal the from-scratch rebuild")
  }

  test("delete-one-source ≡ from-scratch rebuild for the shingle-set " +
    "near-dup artifact") {
    val s = spark
    import org.apache.spark.sql.functions._
    val wh = tempDir("graft-del-shingles").toString
    val docsDir = s"$wh/documents.parquet"
    val all = Tables.load(s, sf, "documents").filter(col("doc_id") < 60)
    all.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.mode("append").parquet(docsDir)
    graft.ops.Llm.corpusShinglesIdx(s, wh).count()
    Thread.sleep(5)
    val before2 = dataFiles(docsDir).map(_.getName).toSet
    all.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.mode("append").parquet(docsDir)
    val seg2File = (dataFiles(docsDir).map(_.getName).toSet -- before2).head
    graft.ops.Llm.corpusShinglesIdx(s, wh).count()
    // takedown of the second crawl batch
    assert(new java.io.File(docsDir, seg2File).delete())
    val excised = graft.ops.Llm.corpusShinglesIdx(s, wh)
      .collect().map(_.toString).toSet
    IndexStore.invalidate(s, "shingle_sets")
    val rebuilt = graft.ops.Llm.corpusShinglesIdx(s, wh)
      .collect().map(_.toString).toSet
    assert(excised === rebuilt,
      "excised shingle sets must equal the from-scratch rebuild")
    // only the first batch's docs remain
    assert(excised.nonEmpty)
  }

  test("gated segmented store: the carry gate sees the deleted " +
    "manifest lines and added paths; a TRUE gate excises, a FALSE " +
    "gate (model retrained) falls back to the full rebuild") {
    val name = freshName("gated")
    val src = scratch("gated")
    val s = spark
    import s.implicits._
    val calls = scala.collection.mutable.Buffer.empty[Seq[String]]
    val gates = scala.collection.mutable
      .Buffer.empty[(Seq[String], Seq[String])]
    var allow = true
    def get() = IndexStore.read(s, ArtifactSpec(name, 1, "",
      Decomp.Segmented((_, _) =>
        files => { calls += files.sorted; s.read.parquet(files: _*) },
        Decomp.Gate.When((_, _) => (del, add) => {
          gates += ((del, add)); allow }))), src)
    def fileSet() = dataFiles(src).map(_.getName).toSet
    Seq(1L, 2L).toDF("x").coalesce(1).write.mode("append").parquet(src)
    val seg1File = fileSet().head
    assert(get().collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    Thread.sleep(5)
    val before2 = fileSet()
    Seq(3L).toDF("x").coalesce(1).write.mode("append").parquet(src)
    val seg2File = (fileSet() -- before2).head
    assert(get().collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L))
    // the append consulted the gate with NO deletions and ONE path
    assert(gates.nonEmpty && gates.last._1.isEmpty &&
      gates.last._2.map(_.split('/').last) === Seq(seg2File))
    // deletion with the gate CLOSED: the model retrained — no segment
    // of the old chain may be reused, the build re-feeds everything.
    // (Delete the FIRST file: the surviving state {seg2} was never
    // built, so the store cannot just re-serve a retained ancestor.)
    assert(new java.io.File(src, seg1File).delete())
    allow = false
    calls.clear(); gates.clear()
    assert(get().collect().map(_.getLong(0)).toSet === Set(3L))
    assert(gates.size === 1, s"gate consulted once, got ${gates.size}")
    assert(gates.head._1.size === 1 &&
      gates.head._1.head.contains(seg1File) &&
      gates.head._1.head.split('|').length >= 3,
      s"the gate must see the deleted file's manifest LINE " +
        s"(path|len|mtime): ${gates.head._1}")
    assert(gates.head._2.isEmpty, "pure deletion adds nothing")
    assert(calls.size === 1 && calls.head.size === 1 &&
      calls.head.head.contains(seg2File),
      s"closed gate must full-rebuild from the survivors: $calls")
    // deletion with the gate OPEN: the untouched window excises with
    // no rebuild call at all
    Thread.sleep(5)
    val before3 = fileSet()
    Seq(4L).toDF("x").coalesce(1).write.mode("append").parquet(src)
    val seg3File = (fileSet() -- before3).head
    allow = true
    assert(get().collect().map(_.getLong(0)).toSet === Set(3L, 4L))
    assert(new java.io.File(src, seg2File).delete())
    calls.clear(); gates.clear()
    assert(get().collect().map(_.getLong(0)).toSet === Set(4L))
    // excision path: the touched window lost its only file → empty
    // segment, the untouched seg re-links — nothing is re-fed
    assert(calls.forall(_.forall(_.contains(seg3File))),
      s"an open gate must never re-feed untouched windows: $calls")
  }

  test("delete-one-source ≡ from-scratch rebuild for the BM25 " +
    "postings chain: a takedown re-tokenizes only the touched " +
    "segment, document frequencies re-derive from the fold") {
    val s = spark
    import org.apache.spark.sql.functions._
    val wh = tempDir("graft-del-bm25").toString
    val docsDir = s"$wh/documents.parquet"
    val all = Tables.load(s, sf, "documents").filter(col("doc_id") < 90)
    all.filter(col("doc_id") % 3 === 0).coalesce(1)
      .write.mode("append").parquet(docsDir)
    graft.ops.Retrieval.bm25Postings(s, wh).count()
    Thread.sleep(5)
    val before2 = dataFiles(docsDir).map(_.getName).toSet
    all.filter(col("doc_id") % 3 === 1).coalesce(1)
      .write.mode("append").parquet(docsDir)
    val seg2File = (dataFiles(docsDir).map(_.getName).toSet -- before2).head
    graft.ops.Retrieval.bm25Postings(s, wh).count()
    Thread.sleep(5)
    all.filter(col("doc_id") % 3 === 2).coalesce(1)
      .write.mode("append").parquet(docsDir)
    graft.ops.Retrieval.bm25Postings(s, wh).count()
    // takedown: the middle crawl batch goes away
    assert(new java.io.File(docsDir, seg2File).delete())
    val excised = graft.ops.Retrieval.bm25Postings(s, wh)
      .collect().map(_.toString).toSet
    IndexStore.invalidate(s, "bm25_postings")
    val rebuilt = graft.ops.Retrieval.bm25Postings(s, wh)
      .collect().map(_.toString).toSet
    assert(excised === rebuilt,
      "excised BM25 postings must equal the from-scratch rebuild")
    assert(excised.nonEmpty)
  }

  test("delete-one-source for the SQ8 vector-code chain: a sub-drift " +
    "takedown CARRIES the frozen scale model (zero retrain) and " +
    "excises the code segments ≡ a from-scratch encode under that " +
    "model; a drift-sized takedown cascades into a retrain") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val wh = tempDir("graft-del-sq8").toString
    val embDir = s"$wh/embeddings.parquet"
    val all = s.read.parquet(s"$sf/embeddings.parquet")
    // state 1: the BULK slice (~80% of rows), AMPLIFIED 2× so its
    // per-dim maxima dominate — later appends then provably freeze
    // the scales, and the two small appends stay under the 20%
    // deletion-drift bound individually
    all.filter(col("vec_id") % 10 < 8)
      .select(col("vec_id"),
        transform(col("embedding"), x => x * 2.0f).as("embedding"),
        col("label"))
      .coalesce(1).write.mode("append").parquet(embDir)
    val bulkFile = dataFiles(embDir).map(_.getName).head
    graft.ops.Llm.sq8Vectors(s, wh).count()
    Thread.sleep(5)
    val before2 = dataFiles(embDir).map(_.getName).toSet
    all.filter(col("vec_id") % 10 === 8).coalesce(1)
      .write.mode("append").parquet(embDir)
    val seg2File = (dataFiles(embDir).map(_.getName).toSet -- before2).head
    graft.ops.Llm.sq8Vectors(s, wh).count()
    Thread.sleep(5)
    all.filter(col("vec_id") % 10 === 9).coalesce(1)
      .write.mode("append").parquet(embDir)
    graft.ops.Llm.sq8Vectors(s, wh).count()
    val scalesBefore = graft.ops.Llm.sq8Scales(s, wh)
      .collect().map(_.toString).toSet
    // SUB-DRIFT takedown: one of three appended slices (~1/7 of the
    // surviving bytes — far under the 20% drift bound)
    assert(new java.io.File(embDir, seg2File).delete())
    val excised = graft.ops.Llm.sq8Vectors(s, wh)
      .collect().map(_.toString).toSet
    // the scale model CARRIED: delete-frozen at the new fingerprint,
    // content identical to the pre-deletion model
    assert(IndexStore.frozenFrom(s, graft.ops.Llm.sq8ScalesSpec, wh).nonEmpty,
      "a sub-drift takedown must carry the scale model frozen")
    assert(graft.ops.Llm.sq8Scales(s, wh)
      .collect().map(_.toString).toSet === scalesBefore,
      "the carried model must be byte-identical to the donor's")
    // ≡ from-scratch encode UNDER THE CARRIED MODEL (the frozen-model
    // contract: codes re-derive against the model in force, which the
    // carry pins to the trained one)
    IndexStore.invalidate(s, "sq8_vectors")
    val rebuilt = graft.ops.Llm.sq8Vectors(s, wh)
      .collect().map(_.toString).toSet
    assert(excised === rebuilt,
      "excised SQ8 codes must equal the from-scratch encode under " +
        "the carried scales")
    // DRIFT-SIZED takedown: the amplified bulk slice goes away — the
    // carry must DECLINE (deleted bytes ≫ 20% of survivors), the
    // scales retrain on the survivors, and the codes re-encode in
    // full against the new model
    assert(new java.io.File(embDir, bulkFile).delete())
    val retrained = graft.ops.Llm.sq8Vectors(s, wh)
      .collect().map(_.toString).toSet
    assert(IndexStore.frozenFrom(s, graft.ops.Llm.sq8ScalesSpec, wh).isEmpty,
      "a drift-sized takedown must NOT carry the model")
    assert(graft.ops.Llm.sq8Scales(s, wh)
      .collect().map(_.toString).toSet !== scalesBefore,
      "the retrained scales must reflect the survivors")
    IndexStore.invalidate(s, "sq8_vectors")
    assert(graft.ops.Llm.sq8Vectors(s, wh)
      .collect().map(_.toString).toSet === retrained,
      "cascaded re-encode must equal the from-scratch rebuild")
  }

  test("shard-sink takedown (q152): untouched capped sources' shard " +
    "files stay BYTE-IDENTICAL zero-copy links, touched and " +
    "re-allocated sources re-extract, and the artifact equals a full " +
    "re-extraction") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val wh = tempDir("graft-del-shards").toString
    val docsDir = s"$wh/documents.parquet"
    def doc(id: Long, src: String, words: Int) =
      (id, (1 to words).map(i => s"w${id}x$i").mkString(" "),
        "en", src, 0L)
    // file 1: a big uncapped source + a tiny CAPPED one (a capped
    // source's allocation is its own availability, invariant under a
    // deletion elsewhere — the reusable partition)
    val f1 = (1L to 200L).map(doc(_, "alpha", 50)) ++
      (201L to 203L).map(doc(_, "tiny", 20))
    // file 2: one source entirely in one file — the takedown victim
    val f2 = (301L to 350L).map(doc(_, "beta", 50))
    f1.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("append").parquet(docsDir)
    Thread.sleep(5)
    val before2 = dataFiles(docsDir).map(_.getName).toSet
    f2.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("append").parquet(docsDir)
    val seg2File = (dataFiles(docsDir).map(_.getName).toSet -- before2).head
    val artRoot = new java.io.File(s"$storeRoot/mix_shards")
    def heads(): Set[String] = Option(artRoot.listFiles()).map(_.toSeq)
      .getOrElse(Nil).filter(d => d.isDirectory &&
        d.getName.startsWith("fp=") &&
        new java.io.File(d, "_SUCCESS").exists()).map(_.getName).toSet
    val heads0 = heads()
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val shards1 = graft.ops.Llm.mixShards(s, wh).collect().map(key).toSet
    assert(shards1.exists(_._1 == "beta") && shards1.exists(_._1 == "tiny"))
    val head1 = (heads() -- heads0).head
    val tiny1 = new java.io.File(artRoot, s"$head1/data/source=tiny")
    assert(tiny1.isDirectory, "the sink must cluster by source")
    val tinyBytes1 = dataFiles(tiny1.toString)
      .map(f => (f.getName, f.length())).toSet
    // TAKEDOWN of beta's file
    assert(new java.io.File(docsDir, seg2File).delete())
    val headsBefore2 = heads()
    val shards2 = graft.ops.Llm.mixShards(s, wh).collect().map(key).toSet
    assert(!shards2.exists(_._1 == "beta"), "beta's shard must vanish")
    val head2 = (heads() -- headsBefore2).head
    // tiny: capped, allocation unchanged → ZERO-COPY link into head1,
    // files literally the same bytes
    val links = Files.readString(
      Paths.get(s"$storeRoot/mix_shards/$head2/_PARTS"))
      .split("\n").toSeq.filter(_.nonEmpty)
    val tinyLink = links.find(_.endsWith("source=tiny"))
    assert(tinyLink.isDefined && tinyLink.get.startsWith(head1),
      s"tiny must re-link into the donor, got $links")
    val tinyLinked = new java.io.File(artRoot, tinyLink.get)
    assert(dataFiles(tinyLinked.toString)
      .map(f => (f.getName, f.length())).toSet === tinyBytes1,
      "the linked shard files must be the donor's own, byte-identical")
    // alpha: uncapped — the shrunken budget moved its allocation, so
    // it re-extracted into the NEW head's own data
    assert(new java.io.File(artRoot, s"$head2/data/source=alpha")
      .isDirectory, "a re-allocated source must re-extract")
    assert(!links.exists(_.endsWith("source=alpha")))
    // ≡ full re-extraction from scratch
    IndexStore.invalidate(s, "mix_shards")
    val rebuilt = graft.ops.Llm.mixShards(s, wh).collect().map(key).toSet
    assert(shards2 === rebuilt,
      "takedown shards must equal the from-scratch re-extraction")
  }

  test("partitioned sink torn link: a reclaimed donor makes the head " +
    "non-servable and the next read REBUILDS in full — never a " +
    "path-not-found at scan time") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val wh = tempDir("graft-torn-shards").toString
    val docsDir = s"$wh/documents.parquet"
    def doc(id: Long, src: String, words: Int) =
      (id, (1 to words).map(i => s"t${id}x$i").mkString(" "),
        "en", src, 0L)
    ((1L to 150L).map(doc(_, "alpha", 40)) ++
      (151L to 153L).map(doc(_, "tiny", 15)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("append").parquet(docsDir)
    Thread.sleep(5)
    val before2 = dataFiles(docsDir).map(_.getName).toSet
    (201L to 240L).map(doc(_, "beta", 40))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("append").parquet(docsDir)
    val seg2File = (dataFiles(docsDir).map(_.getName).toSet -- before2).head
    val artRoot = new java.io.File(s"$storeRoot/mix_shards")
    def heads(): Set[String] = Option(artRoot.listFiles()).map(_.toSeq)
      .getOrElse(Nil).filter(d => d.isDirectory &&
        d.getName.startsWith("fp=") &&
        new java.io.File(d, "_SUCCESS").exists()).map(_.getName).toSet
    val h0 = heads()
    graft.ops.Llm.mixShards(s, wh).count()
    val donor = (heads() -- h0).head
    assert(new java.io.File(docsDir, seg2File).delete())
    val h1 = heads()
    val expected = graft.ops.Llm.mixShards(s, wh).collect()
      .map(_.toString).toSet // head2 links tiny into the donor
    val head2 = (heads() -- h1).head
    assert(Files.readString(
      Paths.get(s"$storeRoot/mix_shards/$head2/_PARTS")).nonEmpty)
    // reclaim the donor out from under the link (a crashed retention
    // pass, a manual rm — the hostile case)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    rm(new java.io.File(artRoot, donor))
    // the torn head must not serve OR throw: the read rebuilds
    val again = graft.ops.Llm.mixShards(s, wh).collect()
      .map(_.toString).toSet
    assert(again === expected,
      "a torn partitioned head must rebuild to the identical content")
    // and the rebuilt head is standalone (no dangling links)
    val links2 = Files.readString(
      Paths.get(s"$storeRoot/mix_shards/$head2/_PARTS"))
      .split("\n").toSeq.filter(_.nonEmpty)
    assert(links2.forall(l =>
      new java.io.File(artRoot, l).exists()),
      s"rebuilt head must not dangle: $links2")
  }

  test("media takedown: the block-SETS artifact (the admission gate's " +
    "static join side) excises the deleted crawl batch and equals the " +
    "from-scratch rebuild") {
    val s = spark
    import org.apache.spark.sql.functions._
    val wh = tempDir("graft-del-msets").toString
    val docsDir = s"$wh/documents.parquet"
    val all = Tables.load(s, sf, "documents").filter(col("doc_id") < 100)
    all.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.mode("append").parquet(docsDir)
    graft.ops.Multimodal.mediaContainment.sets(s, wh).count()
    Thread.sleep(5)
    val before2 = dataFiles(docsDir).map(_.getName).toSet
    all.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.mode("append").parquet(docsDir)
    val seg2File = (dataFiles(docsDir).map(_.getName).toSet -- before2).head
    graft.ops.Multimodal.mediaContainment.sets(s, wh).count() // delta segment
    assert(new java.io.File(docsDir, seg2File).delete())
    val excised = graft.ops.Multimodal.mediaContainment.sets(s, wh)
      .collect().map(_.toString).toSet
    IndexStore.invalidate(s, "media_block_sets")
    IndexStore.invalidate(s, "media_block_postings")
    val rebuilt = graft.ops.Multimodal.mediaContainment.sets(s, wh)
      .collect().map(_.toString).toSet
    assert(excised === rebuilt,
      "excised media block sets must equal the from-scratch rebuild")
    assert(excised.nonEmpty)
  }

  test("audio takedown: the fingerprint-postings artifact excises the " +
    "deleted crawl batch and equals the from-scratch rebuild") {
    val s = spark
    import org.apache.spark.sql.functions._
    val wh = tempDir("graft-del-audio").toString
    val docsDir = s"$wh/documents.parquet"
    val all = Tables.load(s, sf, "documents").filter(col("doc_id") < 120)
    all.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.mode("append").parquet(docsDir)
    graft.ops.Multimodal.audioFpIdx(s, wh).count()
    Thread.sleep(5)
    val before2 = dataFiles(docsDir).map(_.getName).toSet
    all.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.mode("append").parquet(docsDir)
    val seg2File = (dataFiles(docsDir).map(_.getName).toSet -- before2).head
    graft.ops.Multimodal.audioFpIdx(s, wh).count() // delta segment
    // takedown of the second crawl batch (base audio rows AND their
    // planted re-masters all derive from the deleted file)
    assert(new java.io.File(docsDir, seg2File).delete())
    val excised = graft.ops.Multimodal.audioFpIdx(s, wh)
      .collect().map(_.toString).toSet
    IndexStore.invalidate(s, "audio_fps")
    val rebuilt = graft.ops.Multimodal.audioFpIdx(s, wh)
      .collect().map(_.toString).toSet
    assert(excised === rebuilt,
      "excised audio fingerprints must equal the from-scratch rebuild")
    assert(excised.nonEmpty)
  }

  test("audio takedown: the fingerprint-SETS artifact (the audio " +
    "gate's static join side) excises the deleted batch and equals " +
    "the from-scratch rebuild") {
    val s = spark
    import org.apache.spark.sql.functions._
    val wh = tempDir("graft-del-afsets").toString
    val docsDir = s"$wh/documents.parquet"
    val all = Tables.load(s, sf, "documents").filter(col("doc_id") < 120)
    all.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.mode("append").parquet(docsDir)
    graft.ops.Multimodal.audioContainment.sets(s, wh).count()
    Thread.sleep(5)
    val before2 = dataFiles(docsDir).map(_.getName).toSet
    all.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.mode("append").parquet(docsDir)
    val seg2File = (dataFiles(docsDir).map(_.getName).toSet -- before2).head
    graft.ops.Multimodal.audioContainment.sets(s, wh).count() // delta segment
    assert(new java.io.File(docsDir, seg2File).delete())
    val excised = graft.ops.Multimodal.audioContainment.sets(s, wh)
      .collect().map(_.toString).toSet
    IndexStore.invalidate(s, "audio_fp_sets")
    IndexStore.invalidate(s, "audio_fps")
    val rebuilt = graft.ops.Multimodal.audioContainment.sets(s, wh)
      .collect().map(_.toString).toSet
    assert(excised === rebuilt,
      "excised audio fingerprint sets must equal the from-scratch rebuild")
    assert(excised.nonEmpty)
  }

  test("raster takedown: the perceptual-hash artifact excises the " +
    "deleted batch and equals the from-scratch rebuild") {
    val s = spark
    import org.apache.spark.sql.functions._
    val wh = tempDir("graft-del-ahash").toString
    val docsDir = s"$wh/documents.parquet"
    val all = Tables.load(s, sf, "documents").filter(col("doc_id") < 100)
    all.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.mode("append").parquet(docsDir)
    graft.ops.Multimodal.rasterAHashIdx(s, wh).count()
    Thread.sleep(5)
    val before2 = dataFiles(docsDir).map(_.getName).toSet
    all.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.mode("append").parquet(docsDir)
    val seg2File = (dataFiles(docsDir).map(_.getName).toSet -- before2).head
    graft.ops.Multimodal.rasterAHashIdx(s, wh).count() // delta segment
    assert(new java.io.File(docsDir, seg2File).delete())
    val excised = graft.ops.Multimodal.rasterAHashIdx(s, wh)
      .collect().map(_.toString).toSet
    IndexStore.invalidate(s, "raster_ahash")
    val rebuilt = graft.ops.Multimodal.rasterAHashIdx(s, wh)
      .collect().map(_.toString).toSet
    assert(excised === rebuilt,
      "excised perceptual hashes must equal the from-scratch rebuild")
    assert(excised.nonEmpty)
  }

  test("raster audit LEDGER (E205): segments append per crawl batch " +
    "at arrival-time corpus state, takedown excises exactly one " +
    "batch's flags, and the single-state chain coincides with the " +
    "recomputed backfill") {
    val s = spark
    import org.apache.spark.sql.functions._
    val wh = tempDir("graft-ledger").toString
    val docsDir = s"$wh/documents.parquet"
    val all = Tables.load(s, sf, "documents").filter(col("doc_id") < 120)
    all.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.mode("append").parquet(docsDir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val ledger1 = rows(graft.ops.Gates.raster.ledger(s, wh))
    assert(ledger1.nonEmpty, "batch 1 must plant flags")
    // single corpus state: the ledger IS the recomputed backfill
    assert(ledger1 ===
      rows(graft.ops.Gates.raster.backfill(s, wh)))
    Thread.sleep(5)
    val before2 = dataFiles(docsDir).map(_.getName).toSet
    all.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.mode("append").parquet(docsDir)
    val seg2File = (dataFiles(docsDir).map(_.getName).toSet -- before2).head
    val ledger2 = rows(graft.ops.Gates.raster.ledger(s, wh))
    // ARRIVAL-TIME semantics: batch 1's recorded flags are retained
    // verbatim (corpus rows added later never retro-flag an old
    // batch), and every appended flag's INCOMING row derives from the
    // new batch
    assert(ledger1.subsetOf(ledger2),
      "an append must never rewrite recorded admission history")
    val delta = ledger2 -- ledger1
    assert(delta.nonEmpty, "batch 2 must plant flags")
    delta.foreach { case (in, _, _) =>
      val d = if (in >= 9500000L) in - 9500000L else in - 9000000L
      assert(d % 2 === 1,
        s"delta flag for in_id $in must derive from the new batch")
    }
    // takedown of the crawl batch excises exactly its segment
    assert(new java.io.File(docsDir, seg2File).delete())
    assert(rows(graft.ops.Gates.raster.ledger(s, wh)) === ledger1,
      "deleting a crawl batch must excise exactly its flags")
    IndexStore.invalidate(s, "raster_gate_audit")
    assert(rows(graft.ops.Gates.raster.ledger(s, wh)) === ledger1,
      "the from-scratch rebuild coincides at a single corpus state")
  }

  test("vector audit LEDGER (E205): the ledger discipline on the " +
    "EMBEDDINGS source axis — an embedding batch's flags append at " +
    "arrival-time and excise with its file") {
    val s = spark
    import org.apache.spark.sql.functions._
    val wh = tempDir("graft-vledger").toString
    val embDir = s"$wh/embeddings.parquet"
    val all = Tables.load(s, sf, "embeddings")
      .filter(col("vec_id") < 400)
    all.filter(col("vec_id") % 100 < 50).coalesce(1)
      .write.mode("append").parquet(embDir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val ledger1 = rows(graft.ops.Gates.vector.ledger(s, wh))
    assert(ledger1.nonEmpty, "batch 1 must plant flags")
    assert(ledger1 ===
      rows(graft.ops.Gates.vector.backfill(s, wh)),
      "single corpus state: the ledger IS the recomputed backfill")
    Thread.sleep(5)
    val before2 = dataFiles(embDir).map(_.getName).toSet
    all.filter(col("vec_id") % 100 >= 50).coalesce(1)
      .write.mode("append").parquet(embDir)
    val seg2File = (dataFiles(embDir).map(_.getName).toSet -- before2).head
    val ledger2 = rows(graft.ops.Gates.vector.ledger(s, wh))
    assert(ledger1.subsetOf(ledger2),
      "an append must never rewrite recorded admission history")
    val delta = ledger2 -- ledger1
    assert(delta.nonEmpty, "batch 2 must plant flags")
    delta.foreach { case (in, _, _) =>
      assert((in - 1000000L) % 100 === 50,
        s"delta flag for in_id $in must derive from the new batch")
    }
    assert(new java.io.File(embDir, seg2File).delete())
    assert(rows(graft.ops.Gates.vector.ledger(s, wh)) === ledger1,
      "deleting an embedding batch must excise exactly its flags")
  }

  test("every gate's audit LEDGER over part-file tables: equals the " +
    "backfill at one corpus state, keeps its recorded flags across an " +
    "append, and excises back to them when the appended file goes") {
    val s = spark
    import org.apache.spark.sql.functions._
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    graft.ops.Gates.all.foreach { g =>
      val wh = tempDir(s"graft-${g.name}-ledger").toString
      val srcDir = s"$wh/${g.source}.parquet"
      val id = col(if (g.source == "embeddings") "vec_id" else "doc_id")
      val all = Tables.load(s, sf, g.source).filter(id < 200)
      all.filter(id % 100 < 50).coalesce(1)
        .write.mode("append").parquet(srcDir)
      val ledger1 = rows(g.ledger(s, wh))
      assert(ledger1.nonEmpty, s"${g.name}: batch 1 must plant flags")
      assert(ledger1 === rows(g.backfill(s, wh)),
        s"${g.name}: at one corpus state the ledger IS the backfill")
      Thread.sleep(5)
      val before2 = dataFiles(srcDir).map(_.getName).toSet
      all.filter(id % 100 >= 50).coalesce(1)
        .write.mode("append").parquet(srcDir)
      val seg2File = (dataFiles(srcDir).map(_.getName).toSet -- before2).head
      val ledger2 = rows(g.ledger(s, wh))
      assert(ledger1.subsetOf(ledger2) && ledger2 != ledger1,
        s"${g.name}: an append adds flags and never rewrites history")
      assert(new java.io.File(srcDir, seg2File).delete())
      assert(rows(g.ledger(s, wh)) === ledger1,
        s"${g.name}: deleting the appended batch must excise its flags")
    }
  }

  // ---- build ledger + working-set retention (r13 verdict tasks 3-4) -----

  test("build ledger: a first build records one 'full' event, a " +
    "re-read records none, a pure append records a 'delta'") {
    val name = freshName("ledger")
    val src = scratch("ledger")
    writeSource(src, 1L to 10L)
    def get() = IndexStore.read(spark, append(name)(
      spark.read.parquet(src).agg(sum(col("x")).as("s")))(
      (prev, added) => spark.read.parquet(added: _*)
        .agg(sum(col("x")).as("s"))), src)
    IndexStore.drainBuildLog() // other suites' noise is not ours
    get().count()
    val first = IndexStore.drainBuildLog().filter(_.artifact == name)
    assert(first.map(_.mode) === Seq("full"))
    assert(first.head.ms >= 0)
    get().count()
    assert(IndexStore.drainBuildLog().filter(_.artifact == name).isEmpty,
      "a served read must record NO build event — build-vs-serve " +
        "attribution is the ledger's whole point")
    // pure append → delta segment, recorded as such
    val s2 = spark
    import s2.implicits._
    Seq(11L, 12L).toDF("x").coalesce(1).write.mode("append").parquet(src)
    get().count()
    assert(IndexStore.drainBuildLog().filter(_.artifact == name)
      .map(_.mode) === Seq("delta"))
  }

  test("working-set retention: four interleaved source states re-read " +
    "with ZERO rebuilds — retention never evicts a live head of the " +
    "round's real working set (verify sf0.01 + bench sf0.1 + spec " +
    "sf0.001 + one synth fixture); a fifth state evicts the oldest, " +
    "the documented bounded trade") {
    val name = freshName("workset")
    val srcs = (1 to 5).map { i =>
      val d = scratch(s"workset$i")
      writeSource(d, 1L to (10L * i))
      d
    }
    def get(src: String) = IndexStore.read(spark, full(name)(
      spark.read.parquet(src).agg(sum(col("x")).as("s"))), src)
    IndexStore.drainBuildLog()
    // pass 1: the four-state working set builds once each (mtimes must
    // be distinct for the retention order — the store sorts heads by
    // modification time)
    srcs.take(4).foreach { d => get(d).count(); Thread.sleep(20) }
    assert(IndexStore.drainBuildLog().count(_.artifact == name) === 4)
    // pass 2: the SAME working set re-reads with zero rebuilds — the
    // q165-anomaly mechanism "retention thrash forces rebuilds
    // mid-pass" is structurally ruled out at the round's real
    // working-set size
    srcs.take(4).foreach(d => get(d).count())
    assert(IndexStore.drainBuildLog().filter(_.artifact == name).isEmpty,
      "retention (keepFingerprints=4) must hold the round's live " +
        "working set without a single rebuild")
    // a FIFTH state exceeds the bound: the oldest head is reclaimed,
    // and re-reading it pays one rebuild — bounded, documented
    get(srcs(4)).count()
    IndexStore.drainBuildLog()
    get(srcs.head).count()
    assert(IndexStore.drainBuildLog().filter(_.artifact == name)
      .map(_.mode) === Seq("full"),
      "the 5th state must evict exactly the oldest head — the " +
        "retention bound is real, just sized above the working set")
  }

  test("suite-level zero-rebuild receipt: every admission-gate and " +
    "ledger artifact family the bench touches serves a SECOND pass " +
    "entirely from the store — no build event anywhere") {
    // the artifact-heavy query set: all five modalities' gates +
    // ledgers (raster q165/q176, audio q163/q178, media q160/q177,
    // text q179, vector q180) — between them they exercise every
    // readOrBuild flavor the suite uses (segmented, gated, plain)
    val qs = Seq("q165_raster_admission", "q163_audio_admission",
      "q160_media_admission", "q176_raster_audit_ledger",
      "q177_media_audit_ledger", "q178_audio_audit_ledger",
      "q179_text_audit_ledger", "q180_vector_audit_ledger")
    qs.foreach(q => SparkEntry.queries(q)(spark, sf).count())
    IndexStore.drainBuildLog()
    qs.foreach(q => SparkEntry.queries(q)(spark, sf).count())
    val second = IndexStore.drainBuildLog()
    assert(second.isEmpty,
      s"second pass must be build-free, saw: ${second.mkString(", ")}")
  }

  test("streaming ledger fold (the epoch axis of compactChain): " +
    "content is invariant across the fold, a FOLDED epoch's replay " +
    "stays a no-op even after vacuum reclaims its dir, new epochs " +
    "append above the watermark, and a second fold absorbs them") {
    val s = spark
    import s.implicits._
    val name = freshName("epochfold")
    def batch(vals: Seq[Long]) = vals.toDF("x")
    def content(): Set[(Long, Long)] =
      IndexStore.readEpochs(spark, name).get
        .select(col("epoch").cast("long"), col("x").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(IndexStore.appendEpoch(spark, name, 0L, batch(Seq(1, 2))))
    assert(IndexStore.appendEpoch(spark, name, 1L, batch(Seq(3))))
    assert(IndexStore.appendEpoch(spark, name, 2L, batch(Seq(4, 5))))
    val before = content()
    assert(before === Set((0L, 1L), (0L, 2L), (1L, 3L), (2L, 4L), (2L, 5L)))
    // fold: one segment, identical content (epoch id materialized)
    assert(IndexStore.compactEpochs(spark, name))
    assert(content() === before, "the fold must preserve the ledger " +
      "verbatim, including each row's epoch id")
    // vacuum with age floor 0 reclaims the folded epoch dirs...
    IndexStore.vacuumStaging(spark, olderThanMs = 0L).collect()
    assert(content() === before,
      "the ledger must survive reclamation of its folded epoch dirs")
    // ...and the replay contract survives THEIR reclamation: a
    // redelivered folded epoch must consult the watermark, not the dir
    assert(!IndexStore.appendEpoch(spark, name, 1L, batch(Seq(99))),
      "a folded epoch's redelivery must be a no-op after vacuum")
    assert(content() === before)
    // new epochs land above the watermark; a second fold absorbs them
    assert(IndexStore.appendEpoch(spark, name, 3L, batch(Seq(6))))
    val grown = before + ((3L, 6L))
    assert(content() === grown)
    assert(IndexStore.compactEpochs(spark, name))
    IndexStore.vacuumStaging(spark, olderThanMs = 0L).collect()
    assert(content() === grown)
    // nothing left to fold
    assert(!IndexStore.compactEpochs(spark, name))
    // TAKEDOWN on the epoch axis: a row-level excision republishes
    // the history minus the dropped rows; folded-epoch replays stay
    // no-ops afterwards (the watermark survives the rewrite)
    assert(IndexStore.exciseEpochs(spark, name, col("x") === 3L))
    assert(content() === grown.filterNot(_._2 == 3L),
      "the excised row must leave the ledger; everything else stays")
    assert(!IndexStore.appendEpoch(spark, name, 1L, batch(Seq(77))),
      "replay idempotence must survive the excision rewrite")
    // the store describes the ledger: one inventory row, folded, with
    // the bounded live-segment count
    val inv = IndexStore.inventory(spark)
      .filter(col("artifact") === name).collect()
    assert(inv.length === 1 && inv.head.getAs[Boolean]("chained") &&
      inv.head.getAs[Int]("chain_depth") === 1,
      s"post-fold the ledger must read as ONE live segment; saw " +
        s"${inv.mkString(",")}")
  }

  test("media takedown: the block-postings artifact excises the " +
    "deleted crawl batch and equals the from-scratch rebuild") {
    val s = spark
    import org.apache.spark.sql.functions._
    val wh = tempDir("graft-del-media").toString
    val docsDir = s"$wh/documents.parquet"
    val all = Tables.load(s, sf, "documents").filter(col("doc_id") < 80)
    all.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.mode("append").parquet(docsDir)
    graft.ops.Multimodal.mediaBlockPostingsIdx(s, wh).count()
    Thread.sleep(5)
    val before2 = dataFiles(docsDir).map(_.getName).toSet
    all.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.mode("append").parquet(docsDir)
    val seg2File = (dataFiles(docsDir).map(_.getName).toSet -- before2).head
    graft.ops.Multimodal.mediaBlockPostingsIdx(s, wh).count() // delta seg
    // takedown of the second crawl batch (base rows AND their planted
    // re-encode/re-upload variants all derive from the deleted file)
    assert(new java.io.File(docsDir, seg2File).delete())
    val excised = graft.ops.Multimodal.mediaBlockPostingsIdx(s, wh)
      .collect().map(_.toString).toSet
    IndexStore.invalidate(s, "media_block_postings")
    val rebuilt = graft.ops.Multimodal.mediaBlockPostingsIdx(s, wh)
      .collect().map(_.toString).toSet
    assert(excised === rebuilt,
      "excised media block postings must equal the from-scratch rebuild")
    assert(excised.nonEmpty)
  }

  test("r15 publish-time compaction: a small artifact staged with many " +
    "partitions publishes as ONE data file (guide §6 — a 32-file " +
    "46-row model table charges every chain read O(files) opens), " +
    "with content and read-back unchanged") {
    val name = freshName("compact")
    val src = scratch("compact")
    writeSource(src, 1L to 100L)
    // force a fragmented staging write: 16 partitions of a tiny frame
    val got = IndexStore.read(spark, full(name) {
      spark.read.parquet(src).repartition(16)
    }, src).collect().map(_.getLong(0)).sorted
    assert(got.toSeq === (1L to 100L), "content must survive compaction")
    val fpDirs = Option(new java.io.File(s"$storeRoot/$name").listFiles())
      .map(_.toSeq).getOrElse(Seq.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("fp="))
    assert(fpDirs.size === 1)
    val parts = fpDirs.head.listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(parts.length === 1,
      s"a KB-sized artifact must publish as one file, got " +
        s"${parts.length}: ${parts.map(_.getName).mkString(", ")}")
  }

  // ---- the artifact registry --------------------------------------------

  test("auto-fold works from the resolved fingerprint: an append chain " +
    "whose preimage carries an extra block (an upstream identity) folds " +
    "to one segment once it passes the depth bound, rows unchanged") {
    val name = freshName("foldextra")
    val src = scratch("foldextra")
    val s = spark
    import s.implicits._
    val spec = ArtifactSpec(name, 1, "", Decomp.Append(
      (_, _) => s.read.parquet(src),
      (_, _) => (_, added) => s.read.parquet(added: _*)),
      Seq(probe(freshName("foldup"))))
    def depth() = IndexStore.inventory(s)
      .filter(col("artifact") === name &&
        col("fingerprint") === IndexStore.fingerprint(s, spec, src))
      .select("chain_depth").head().getInt(0)
    Seq(0L).toDF("x").coalesce(1).write.mode("append").parquet(src)
    IndexStore.read(s, spec, src).collect()
    // the base segment plus 8 deltas: the 9-deep chain passes the bound
    (1 to 8).foreach { i =>
      Thread.sleep(5)
      Seq(i.toLong).toDF("x").coalesce(1).write.mode("append").parquet(src)
      IndexStore.read(s, spec, src).collect()
    }
    assert(depth() === 1, "a chain keyed with an extra block must fold")
    assert(IndexStore.read(s, spec, src).collect().map(_.getLong(0)).toSet ===
      (0L to 8L).toSet, "the fold must keep every row")
  }

  test("registry: names are unique, every upstream is registered, and " +
    "the graph relation lists the declared edges") {
    val names = Artifacts.all.map(_.name)
    assert(names.distinct === names, s"duplicate artifact names: $names")
    Artifacts.all.foreach(a => a.upstreams.foreach(u =>
      assert(Artifacts.all.exists(_ eq u),
        s"${a.name}'s upstream ${u.name} is not in Artifacts.all")))
    val edges = Artifacts.graph(spark)
      .filter(col("upstream").isNotNull)
      .select("artifact", "upstream").collect()
      .map(r => r.getString(0) -> r.getString(1)).toSet
    assert(edges.contains("raster_band_stops" -> "raster_ahash"))
    assert(edges.contains("pq_codes" -> "pq_codebooks"))
    assert(Artifacts.graph(spark).select("artifact").distinct().count() ===
      names.size.toLong, "every artifact is a node of the graph")
  }

  test("registry: a spec without upstreams keeps the classic " +
    "(version, manifest) fingerprint; a spec with upstreams moves") {
    Artifacts.all.foreach { a =>
      val classic = IndexStore.fingerprint(spark, a.source(sf), a.version)
      if (a.upstreams.isEmpty)
        assert(IndexStore.fingerprint(spark, a, sf) === classic,
          s"${a.name} must keep its fingerprint")
      else
        assert(IndexStore.fingerprint(spark, a, sf) !== classic,
          s"${a.name} must key on its upstreams")
    }
  }

  test("registry: bumping one spec's version rebuilds exactly that spec " +
    "and its transitive dependents") {
    val wh = tempDir("graft-bump").toString
    Tables.load(spark, sf, "documents").filter(col("doc_id") < 60)
      .coalesce(1).write.mode("overwrite").parquet(s"$wh/documents.parquet")
    val target = graft.ops.Multimodal.rasterAHashSpec
    // the registry with `target` one version up: every dependent
    // re-declared over its bumped upstreams, everything else as is
    val memo = scala.collection.mutable.Map.empty[String, ArtifactSpec]
    def bumped(a: ArtifactSpec): ArtifactSpec = memo.get(a.name) match {
      case Some(b) => b
      case None =>
        val ups = a.upstreams.map(bumped)
        val b =
          if (a eq target) ArtifactSpec(a.name, a.version + 1, a.table, a.decomp, ups)
          else if (ups.zip(a.upstreams).exists { case (x, y) => x ne y })
            ArtifactSpec(a.name, a.version, a.table, a.decomp, ups)
          else a
        memo(a.name) = b
        b
    }
    val moved = Artifacts.all.filter(a => bumped(a) ne a).map(_.name).toSet
    assert(moved === Set("raster_ahash", "raster_band_stops",
      "raster_gate_audit"))
    val modalities = Artifacts.all.filter(a =>
      Seq("raster_", "media_", "audio_").exists(a.name.startsWith))
    modalities.foreach(a => IndexStore.read(spark, a, wh).count())
    IndexStore.drainBuildLog()
    modalities.foreach(a => IndexStore.read(spark, bumped(a), wh).count())
    val built = IndexStore.drainBuildLog().map(_.artifact).toSet
    assert(built === moved,
      s"exactly the bumped spec and its dependents rebuild: $built")
  }
}
