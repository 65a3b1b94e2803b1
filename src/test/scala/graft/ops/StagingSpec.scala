package graft.ops

import java.nio.file.{Files, Paths}

import graft.SparkSpec

/** Pins the artifact-commit plumbing now that it routes through the
  * Hadoop FileSystem API (the portability contract: same code on
  * file://, HDFS, object stores — Staging's scaladoc documents where
  * atomicity degrades). Exercised through Hadoop's LocalFileSystem,
  * which is exactly what a `file://` deployment resolves.
  */
class StagingSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("versioned-pointer commit: write → commit → read through LATEST") {
    val root = tmp("stg_v")
    val (d1, n1) = Staging.nextVersionDir(root)
    assert((d1, n1) == (s"$root/v1", 1L))
    Staging.writeString(s"$d1/data", "one")
    assert(Staging.currentVersion(root).isEmpty) // invisible pre-commit
    Staging.commitVersion(root, n1)
    assert(Staging.currentVersion(root).contains(1L))
    assert(Staging.readString(s"${Staging.versionDir(root, 1L)}/data") == "one")
  }

  test("GC retention: default keeps the previous version for lazy " +
      "readers; retain=0 is eager; sweep stops at the first hole") {
    val root = tmp("stg_gc")
    (1L to 4L).foreach { n =>
      val (d, v) = Staging.nextVersionDir(root)
      assert(v == n)
      Staging.writeString(s"$d/data", n.toString)
      Staging.commitVersion(root, v) // default retain = 1
    }
    // after v4 with retain=1: v4 + v3 live, v1/v2 collected
    assert(Staging.currentVersion(root).contains(4L))
    assert(Staging.exists(s"$root/v4") && Staging.exists(s"$root/v3"))
    assert(!Staging.exists(s"$root/v2") && !Staging.exists(s"$root/v1"))
    // a reader that resolved v3 BEFORE the v5 commit still has files
    val held = Staging.versionDir(root, 3L)
    val (d5, v5) = Staging.nextVersionDir(root)
    Staging.writeString(s"$d5/data", "5")
    Staging.commitVersion(root, v5, retain = 1)
    assert(!Staging.exists(held), "v3 superseded twice — collected")
    assert(Staging.exists(s"$root/v4"), "previous version must survive")
    // eager mode drops everything but the committed version
    val (d6, v6) = Staging.nextVersionDir(root)
    Staging.writeString(s"$d6/data", "6")
    Staging.commitVersion(root, v6, retain = 0)
    assert(Staging.exists(s"$root/v6") && !Staging.exists(s"$root/v5"))
  }

  test("manifest round trip; refusal of multi-line / '=' keys; " +
      "absent manifest reads empty") {
    val root = tmp("stg_mf")
    val kv = Map("n" -> "3", "threshold" -> "0.5", "hash" -> "shingle48/v1")
    Staging.writeManifest(root, kv)
    assert(Staging.readManifest(root) == kv)
    // values may carry '=' (only the FIRST one splits)
    Staging.writeManifest(root, Map("expr" -> "a=b"))
    assert(Staging.readManifest(root) == Map("expr" -> "a=b"))
    intercept[IllegalArgumentException] {
      Staging.writeManifest(root, Map("bad=key" -> "v"))
    }
    intercept[IllegalArgumentException] {
      Staging.writeManifest(root, Map("k" -> "multi\nline"))
    }
    assert(Staging.readManifest(tmp("stg_mf_none")) == Map.empty)
    // a corrupt/truncated manifest fails loudly — manifests are always
    // self-written, so a '='-free line is never valid and degrading to
    // a "" key would feed bogus defaults into refresh validation
    val bad = tmp("stg_mf_bad")
    Staging.writeString(s"$bad/manifest", "n=3\ntruncatedline")
    intercept[IllegalArgumentException] { Staging.readManifest(bad) }
  }

  test("nextVersionDir clears a stale uncommitted dir: a crash after " +
      "files landed but before the pointer swap must not wedge retries") {
    val root = tmp("stg_retry")
    val (d1, v1) = Staging.nextVersionDir(root)
    Staging.writeString(s"$d1/data", "one")
    Staging.commitVersion(root, v1)
    // crash simulation: v2 written (partially or fully) but never committed
    val (d2a, _) = Staging.nextVersionDir(root)
    Staging.writeString(s"$d2a/data", "stale-crash-debris")
    Staging.writeString(s"$d2a/extra", "also stale")
    // restart: the SAME dir comes back (LATEST never moved) — clean
    val (d2b, v2b) = Staging.nextVersionDir(root)
    assert(d2b == d2a && v2b == 2L)
    assert(!Staging.exists(s"$d2b/data") && !Staging.exists(s"$d2b/extra"),
      "stale uncommitted files survived into the retry")
    Staging.writeString(s"$d2b/data", "two")
    Staging.commitVersion(root, v2b)
    assert(Staging.readString(s"${Staging.versionDir(root, 2L)}/data") == "two")
  }

  test("list: child names of a dir, empty when absent") {
    val root = tmp("stg_ls")
    assert(Staging.list(s"$root/nope") == Seq.empty)
    Staging.writeString(s"$root/d/a", "1")
    Staging.writeString(s"$root/d/b", "2")
    assert(Staging.list(s"$root/d").toSet == Set("a", "b"))
  }

  test("promote: staged tables move into place, unpromoted staging " +
      "content is discarded, rerun-safe") {
    val root = tmp("stg_p")
    Staging.writeString(s"$root/.staging/t1/part-0", "a")
    Staging.writeString(s"$root/.staging/t2/part-0", "b")
    Staging.writeString(s"$root/.staging/stray", "junk")
    Staging.promote(root, Seq("t1", "t2"))
    assert(Staging.readString(s"$root/t1/part-0") == "a")
    assert(Staging.readString(s"$root/t2/part-0") == "b")
    assert(!Staging.exists(s"$root/.staging"))
    // re-staging and promoting again replaces the previous target
    Staging.writeString(s"$root/.staging/t1/part-0", "a2")
    Staging.promote(root, Seq("t1"))
    assert(Staging.readString(s"$root/t1/part-0") == "a2")
    assert(Staging.readString(s"$root/t2/part-0") == "b")
  }

  private def mkSeg(root: String, sid: String): Unit =
    Staging.writeString(s"$root/segments/$sid/part-0", sid)

  private def mkVersion(root: String, segs: Seq[String]): Long = {
    val (d, v) = Staging.nextVersionDir(root)
    Staging.writeManifest(d, Map("ssegs" -> segs.mkString(",")))
    Staging.commitVersion(root, v)
    v
  }

  test("gcSegments: segments pinned by retention-window manifests " +
      "survive; unreferenced ones are swept with onDelete") {
    val root = tmp("stg_seg")
    Seq("s1", "s2", "s3").foreach(mkSeg(root, _))
    mkVersion(root, Seq("s1"))
    mkVersion(root, Seq("s1", "s2")) // window (retain=1) = {v1, v2}
    var deleted = Seq.empty[String]
    Staging.gcSegments(root, Seq("ssegs"), d => deleted :+= d)
    assert(Staging.exists(s"$root/segments/s1"))
    assert(Staging.exists(s"$root/segments/s2"))
    assert(!Staging.exists(s"$root/segments/s3"), "unreferenced — swept")
    assert(deleted == Seq(s"$root/segments/s3"))
  }

  test("gcSegments: a version dir STRANDED below the retention window " +
      "(crash mid-GC) is deleted and stops pinning its segments") {
    val root = tmp("stg_strand")
    Seq("old", "live").foreach(mkSeg(root, _))
    mkVersion(root, Seq("old")) // v1
    mkVersion(root, Seq("live")) // v2
    mkVersion(root, Seq("live")) // v3
    mkVersion(root, Seq("live")) // v4 → window {v3, v4}; v1/v2 GC'd
    // crash simulation: resurrect a below-window dir whose manifest
    // references the 'old' segment — pre-fix, it pinned 'old' forever
    Staging.writeManifest(s"$root/v1", Map("ssegs" -> "old"))
    Staging.gcSegments(root, Seq("ssegs"))
    assert(!Staging.exists(s"$root/v1"), "stranded dir reclaimed")
    assert(!Staging.exists(s"$root/segments/old"),
      "segment pinned only by the stranded manifest reclaimed")
    assert(Staging.exists(s"$root/segments/live"))
  }

  test("gcSegments: versions kept by a RAISED commitVersion retain are " +
      "live (contiguous run), never mistaken for stranded") {
    val root = tmp("stg_keep")
    Seq("a", "b", "c", "d").foreach(mkSeg(root, _))
    Seq("a", "b", "c", "d").zipWithIndex.foreach { case (s, i) =>
      val (d, v) = Staging.nextVersionDir(root)
      Staging.writeManifest(d, Map("ssegs" -> s))
      Staging.commitVersion(root, v, retain = 3) // long-reader writer
      assert(v == i + 1L)
    }
    // dirs v1..v4 all on disk (retain=3); the sweep must honor the
    // writer's window, not an independent default
    Staging.gcSegments(root, Seq("ssegs"))
    Seq("v1", "v2", "v3", "v4").foreach(vd =>
      assert(Staging.exists(s"$root/$vd"), s"$vd wrongly collected"))
    Seq("a", "b", "c", "d").foreach(s =>
      assert(Staging.exists(s"$root/segments/$s"), s"segment $s swept"))
  }

  test("gcSegments: an unreadable manifest INSIDE the window aborts " +
      "the sweep conservatively instead of wedging the commit path") {
    val root = tmp("stg_rot")
    Seq("s1", "junk").foreach(mkSeg(root, _))
    mkVersion(root, Seq("s1")) // v1
    mkVersion(root, Seq("s1")) // v2 → window {v1, v2}
    Staging.writeString(s"$root/v1/manifest", "bitrotted-no-equals")
    // must not throw, must not delete anything (v1's pins are unknown)
    Staging.gcSegments(root, Seq("ssegs"))
    assert(Staging.exists(s"$root/segments/s1"))
    assert(Staging.exists(s"$root/segments/junk"),
      "sweep skipped wholesale under an unreadable live manifest")
  }

  test("gcSegments: a LATEST naming a MISSING version dir (stale/corrupt " +
      "pointer) degrades to no-GC, never a total sweep") {
    val root = tmp("stg_ptr")
    Seq("s1", "s2").foreach(mkSeg(root, _))
    mkVersion(root, Seq("s1")) // v1
    mkVersion(root, Seq("s2")) // v2
    // fault injection: pointer names a version that has no dir (the
    // documented non-atomic object-store rename window / manual ops).
    // Pre-guard, hole == latest classified v1/v2 both as stranded and
    // then swept every segment.
    Staging.writeString(s"$root/LATEST", "3")
    Staging.gcSegments(root, Seq("ssegs"))
    Seq("v1", "v2").foreach(vd =>
      assert(Staging.exists(s"$root/$vd"), s"$vd deleted under broken pointer"))
    Seq("s1", "s2").foreach(s =>
      assert(Staging.exists(s"$root/segments/$s"), s"segment $s swept"))
  }

  // ------------------------------------------- PointerStore contract
  // The same contract body runs against BOTH implementations: the
  // file-backed default and the JDBC (Derby-embedded) commit log that
  // closes the object-store atomic-publish caveat.
  private val pointerStores: Seq[(String, () => graft.ops.PointerStore)] =
    Seq(
      "file" -> (() => graft.ops.PointerStore.File),
      "jdbc" -> (() => new graft.ops.PointerStore.Jdbc(
        "jdbc:derby:memory:graftptr;create=true")))

  pointerStores.foreach { case (nm, mk) =>
    test(s"PointerStore[$nm]: publish/current round trip; a stale or " +
        "duplicate publish fails loudly with the pointer unchanged") {
      val root = tmp(s"ptr_$nm")
      val store = mk()
      assert(store.current(root).isEmpty)
      store.publish(root, 1L)
      assert(store.current(root).contains(1L))
      store.publish(root, 2L)
      assert(store.current(root).contains(2L))
      val e = intercept[IllegalStateException] { store.publish(root, 2L) }
      assert(e.getMessage.contains(root), e.getMessage)
      intercept[IllegalStateException] { store.publish(root, 1L) }
      assert(store.current(root).contains(2L), "pointer moved on refusal")
      // roots are independent rows/files
      val other = tmp(s"ptr2_$nm")
      assert(store.current(other).isEmpty)
      store.publish(other, 1L)
      assert(store.current(root).contains(2L))
    }

    test(s"PointerStore[$nm]: commitVersion retention sweep and " +
        "gcSegments both resolve LATEST through the store") {
      val root = tmp(s"ptrgc_$nm")
      val store = mk()
      Seq("s1", "s2", "s3").foreach(mkSeg(root, _))
      (1 to 3).foreach { i =>
        // nextVersionDir must resolve through the SAME store: with the
        // pointer external, the LATEST file never exists and a
        // file-resolved "next" would clobber v1 forever
        val (d, v) = Staging.nextVersionDir(root, store)
        assert(v == i.toLong, s"nextVersionDir ignored the store: $v")
        Staging.writeManifest(d, Map("ssegs" -> s"s$i"))
        Staging.commitVersion(root, v, retain = 1, store = store)
      }
      assert(Staging.currentVersion(root, store).contains(3L))
      // retain=1 after v3: v1 swept by the commit's own walk
      assert(!Staging.exists(s"$root/v1") && Staging.exists(s"$root/v2"))
      Staging.gcSegments(root, Seq("ssegs"), store = store)
      assert(!Staging.exists(s"$root/segments/s1"), "s1 unpinned — swept")
      Seq("s2", "s3").foreach(s =>
        assert(Staging.exists(s"$root/segments/$s"), s"$s wrongly swept"))
    }
  }

  // ---------------------------------------------- writer lease contract
  pointerStores.foreach { case (nm, mk) =>
    test(s"PointerStore[$nm]: writer lease — blocked second owner, " +
        "self-renew, wrong-owner release no-op, expiry reclaim") {
      val root = tmp(s"lease_$nm")
      val store = mk()
      assert(store.lease(root).isEmpty)
      assert(store.tryLease(root, "a", 60000L))
      assert(store.lease(root).exists(_._1 == "a"))
      assert(!store.tryLease(root, "b", 60000L),
        "second writer acquired over a live lease")
      assert(store.tryLease(root, "a", 60000L), "self-renew must extend")
      store.releaseLease(root, "b") // wrong owner: must NOT revoke a's
      assert(store.lease(root).exists(_._1 == "a"),
        "wrong-owner release revoked the holder's lease")
      store.releaseLease(root, "a")
      assert(store.lease(root).isEmpty)
      // an expired record is reclaimable by anyone
      assert(store.tryLease(root, "b", 1L))
      Thread.sleep(20)
      assert(store.tryLease(root, "c", 60000L),
        "expired lease must be reclaimable")
      store.releaseLease(root, "c")
    }

    test(s"PointerStore[$nm]: two uncoordinated maintainers on one " +
        "artifact — the loser fails loudly BEFORE staging a version dir") {
      import spark.implicits._
      val dir = tmp(s"race_$nm")
      val store = mk()
      val docs = (1L to 10L).map(i =>
        (i, s"w${i % 5} w${(i + 1) % 5} w${(i + 2) % 5}"))
        .toDF("doc_id", "text")
      // maintainer A is mid-fold in ANOTHER process: its lease exists
      // at the store but not in this process's held-lease registry
      assert(store.tryLease(dir, "maintainer-A", 60000L))
      // maintainer B's fold dies at lease acquire — entry, not publish
      val e = intercept[IllegalStateException] {
        graft.streaming.StreamingNovelty.foldBatch(
          docs, dir, 0L, n = 3, buckets = 8, store = store)
      }
      assert(e.getMessage.contains("lease"), e.getMessage)
      assert(!Staging.list(dir).exists(_.matches("v\\d+")),
        s"loser staged a version dir: ${Staging.list(dir)}")
      // a ROGUE writer that skips acquireWriter entirely is also
      // refused at the staging gate while A's lease is live
      val e2 = intercept[IllegalStateException] {
        Staging.nextVersionDir(dir, store)
      }
      assert(e2.getMessage.contains("maintainer-A"), e2.getMessage)
      // A releases (fold done): B's next fold proceeds normally
      store.releaseLease(dir, "maintainer-A")
      graft.streaming.StreamingNovelty.foldBatch(
        docs, dir, 0L, n = 3, buckets = 8, store = store)
      assert(Segments.exists(dir, store))
      assert(store.lease(dir).isEmpty, "fold must release its lease")
    }
  }

  test("acquireWriter: nextVersionDir re-extends the held lease; a " +
      "mid-fold expiry steal fails the fold loudly at the next staging") {
    val root = tmp("lease_renew")
    val l = Staging.acquireWriter(root, ttlMs = 60000L)
    // a second in-process acquire is a second writer: refused
    intercept[IllegalStateException] { Staging.acquireWriter(root) }
    val before = graft.ops.PointerStore.File.lease(root).get._2
    Thread.sleep(5)
    val (d1, v1) = Staging.nextVersionDir(root) // renews, no throw
    assert(graft.ops.PointerStore.File.lease(root).get._2 > before,
      "staging must EXTEND the held lease")
    Staging.writeString(s"$d1/data", "one")
    Staging.commitVersion(root, v1)
    l.release()
    assert(graft.ops.PointerStore.File.lease(root).isEmpty)
    // lost-lease: the holder's TTL lapses mid-fold and another writer
    // reclaims — the original's next staging attempt must fail loudly
    // instead of clobbering the thief's dir
    val l2 = Staging.acquireWriter(root, ttlMs = 1L)
    Thread.sleep(20)
    assert(graft.ops.PointerStore.File.tryLease(root, "thief", 60000L))
    val e = intercept[IllegalStateException] { Staging.nextVersionDir(root) }
    assert(e.getMessage.contains("lost"), e.getMessage)
    // ...and the PUBLISH path re-asserts too: a fold whose LAST action
    // is the pointer swap has no later staging to catch the steal — a
    // torn publish over the reclaimer's restaging must fail here
    val ep = intercept[IllegalStateException] {
      Staging.commitVersion(root, 2L)
    }
    assert(ep.getMessage.contains("lost"), ep.getMessage)
    assert(Staging.currentVersion(root).contains(1L),
      "pointer moved despite the lost lease")
    l2.release() // wrong-owner store release is a no-op; clears registry
    assert(graft.ops.PointerStore.File.lease(root).exists(_._1 == "thief"),
      "releasing a lost lease must not revoke the reclaimer's")
    graft.ops.PointerStore.File.releaseLease(root, "thief")
  }

  test("artifact lifecycle on the JDBC pointer store: no LATEST file " +
      "ever touches the data dir, and the stored index round-trips") {
    import spark.implicits._
    val store = new graft.ops.PointerStore.Jdbc(
      "jdbc:derby:memory:graftptr;create=true")
    val dir = tmp("ptr_nov")
    val mkDocs = (ids: Seq[Long]) => ids.map(i =>
      (i, s"w${i % 5} w${(i + 1) % 5} w${(i + 2) % 5}")).toDF("doc_id", "text")
    val idx1 = graft.ext.NoveltyIndex
      .build(mkDocs(1L to 10L), org.apache.spark.sql.functions.col("text"),
        org.apache.spark.sql.functions.col("doc_id"), n = 3, buckets = 8)
      .write(dir, store = store)
    assert(!Staging.exists(s"$dir/LATEST"),
      "pointer leaked onto the filesystem despite the external store")
    assert(Segments.exists(dir, store))
    assert(!Segments.exists(dir),
      "file-store probe must NOT see a JDBC-committed artifact")
    val idx2 = graft.ext.NoveltyIndex.read(spark, dir, store)
    assert(idx2.seen.count() == idx1.seen.count() && idx2.seen.count() > 0)
    // day-2 batch with genuinely NEW text (the w-vocab repeats across
    // ids, so a same-vocab batch would contribute zero new shingles)
    val fresh = (11L to 20L).map(i => (i, s"fresh day two tokens $i"))
      .toDF("doc_id", "text")
    idx2.update(fresh,
        org.apache.spark.sql.functions.col("text"),
        org.apache.spark.sql.functions.col("doc_id"))
      .write(dir, store = store)
    assert(Staging.currentVersion(dir, store).contains(2L))
    assert(graft.ext.NoveltyIndex.read(spark, dir, store).seen.count() >
      idx1.seen.count())
  }

  test("atomicRename overwrites an existing destination (the pointer " +
      "swap primitive)") {
    val root = tmp("stg_ar")
    Staging.writeString(s"$root/dst", "old")
    Staging.writeString(s"$root/src", "new")
    Staging.atomicRename(s"$root/src", s"$root/dst")
    assert(Staging.readString(s"$root/dst") == "new")
    assert(!Staging.exists(s"$root/src"))
    assert(!Files.exists(Paths.get(s"$root/src")))
  }

  test("file systems resolve through the session's Hadoop conf: a session " +
      "fs.* key and a change to the SparkContext's Hadoop conf count at " +
      "once, a session spark.hadoop.* key counts exactly as newHadoopConf " +
      "counts it") {
    val dir = tmp("stg_conf")
    Staging.writeString(s"$dir/x", "1")
    spark.range(3).write.parquet(s"$dir/pq")
    val x = s"${SchemeFs.Scheme}://$dir/x"
    val pq = s"${SchemeFs.Scheme}://$dir/pq"
    val impl = s"fs.${SchemeFs.Scheme}.impl"
    // uncached, so every call resolves the scheme through the conf it gets
    val uncached = s"fs.${SchemeFs.Scheme}.impl.disable.cache"
    def stagingResolves: Boolean = scala.util.Try(Staging.exists(x)).toOption.contains(true)
    def tablesResolve: Seq[Boolean] = Seq(
      scala.util.Try(graft.model.Tables.rowCount(spark, pq) == 3),
      scala.util.Try(graft.model.Tables.parquet(spark, pq).schema.fieldNames.toSeq == Seq("id"))
    ).map(_.toOption.contains(true))
    // every path resolves alike, and the answer is the one of them all
    def resolves: Boolean = {
      val all = stagingResolves +: tablesResolve
      assert(all.distinct.size == 1, s"Staging, parquet, rowCount: $all")
      all.head
    }
    val hc = spark.sparkContext.hadoopConfiguration
    // only spark.* keys on the session: the SparkContext's conf, no copy
    assert(Staging.conf eq hc)
    assert(graft.Sessions.hadoopConf(spark) eq hc)
    assert(!resolves)

    spark.conf.set(impl, classOf[SchemeFs].getName)
    spark.conf.set(uncached, "true")
    try {
      assert(!(Staging.conf eq hc))
      assert(resolves && Staging.readString(x) == "1")
    } finally { spark.conf.unset(impl); spark.conf.unset(uncached) }
    assert(!resolves)

    spark.conf.set(s"spark.hadoop.$impl", classOf[SchemeFs].getName)
    try {
      val viaSession = scala.util.Try(new org.apache.hadoop.fs.Path(x)
        .getFileSystem(spark.sessionState.newHadoopConf()).exists(new org.apache.hadoop.fs.Path(x)))
      assert(resolves == viaSession.toOption.contains(true))
    } finally spark.conf.unset(s"spark.hadoop.$impl")

    hc.set(impl, classOf[SchemeFs].getName)
    hc.set(uncached, "true")
    try assert(resolves)
    finally { hc.unset(impl); hc.unset(uncached) }
    assert(!resolves)
  }
}

/** The local file system under its own scheme. */
class SchemeFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create(s"${SchemeFs.Scheme}:///")
  override def getScheme: String = SchemeFs.Scheme
}

object SchemeFs {
  val Scheme = "graftstg"
}
