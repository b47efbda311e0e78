package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.operators.{Ckpt, Dedup, Graph, TextAnalysis}

/** Round-13 checkpoint LIFECYCLE pins (the r12 verdict's top item):
  *
  *   1. iterative operators release every SUPERSEDED per-round
  *      checkpoint themselves — after a call returns, exactly the
  *      result-backing cut(s) remain persisted, no matter how many
  *      rounds ran (O(1) storage held, not O(rounds));
  *   2. `Ckpt.release(result)` frees those too — a caller that has
  *      consumed the result can return storage to baseline;
  *   3. the reliable `checkpointDir` backend is value-identical to the
  *      local backends AND deletes superseded round FILES from the
  *      checkpoint dir as it goes (durable storage must not accumulate
  *      either).
  */
class CkptLifecycleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def edges = Seq(
    ("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("a", "c"), ("x", "y")
  ).toDF("src", "dst")
  private def kedges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
    (3L, 4L), (4L, 5L), (5L, 6L)).toDF("a", "b")

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Run `op`, assert it left exactly `expectHeld` new persistent RDDs
    * (the result-backing cuts), then release the result and assert
    * storage returned to baseline. Returns the collected rows. */
  private def pinHeld(expectHeld: Int)(op: => DataFrame): Set[Seq[Any]] = {
    val base = persistedIds
    val out = op
    val rows = out.collect().map(_.toSeq).toSet
    val added = persistedIds -- base
    assert(added.size == expectHeld,
      s"expected $expectHeld result-backing checkpoint(s), found ${added.size}")
    Ckpt.release(out)
    assert((persistedIds -- base).isEmpty,
      "Ckpt.release(result) must return storage to baseline")
    rows
  }

  test("pageRank holds ONE checkpoint after 5 iterations; release frees it") {
    // without the chain this loop would hold nodes + contrib + 6 rank
    // vectors = 8 cuts
    pinHeld(1)(Graph.pageRank(edges, "src", "dst", iters = 5))
  }

  test("bfsHops holds ONE checkpoint across its frontier rounds") {
    pinHeld(1)(Graph.bfsHops(edges, "src", "dst", "a", maxHops = 10))
  }

  test("kCoreBounded holds ONE checkpoint across its peel rounds") {
    pinHeld(1)(Graph.kCoreBounded(kedges, "a", "b", k = 2, rounds = 8))
  }

  test("triangleCounts holds exactly its two result-backing cuts") {
    pinHeld(2)(Graph.triangleCounts(kedges, "a", "b"))
  }

  test("dupClusters holds ONE checkpoint; pair cut released at return") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val nodes = (1L to 12L).toDF("doc_id")
    val rows = pinHeld(1)(Dedup.dupClusters(pairs, nodes, "doc_id"))
    // sanity: transitivity landed (1-2-3 collapse to rep 1)
    assert(rows.contains(Seq(3L, 1L)) && rows.contains(Seq(11L, 10L)))
  }

  test("bpeMergeTable holds ZERO checkpoints after returning " +
    "(driver-local result; the whole chain is released)") {
    val docs = Seq("banana bandana banana", "band anna banana",
      "nab ban anna").toDF("text")
    val base = persistedIds
    val merges = TextAnalysis.bpeMergeTable(docs, "text", numMerges = 3)
    assert(merges.count() == 3)
    assert((persistedIds -- base).isEmpty,
      "bpeMergeTable must release every per-round checkpoint")
  }

  test("releaseIssued frees graft-issued checkpoints but not foreign caches") {
    val base = persistedIds
    val pr = Graph.pageRank(edges, "src", "dst", iters = 3)
    pr.collect()
    val foreign = kedges.persist()
    foreign.count()
    assert(Ckpt.releaseIssued(spark) >= 1)
    val remaining = persistedIds -- base
    // the foreign cache must survive a graft sweep
    assert(remaining.nonEmpty && foreign.storageLevel.useMemory,
      "foreign cache must not be swept by releaseIssued")
    foreign.unpersist(blocking = true)
    assert((persistedIds -- base).isEmpty)
  }

  // ---- reliable checkpointDir backend ----

  private def rddDirCount(root: String): Int = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) 0
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(q => java.nio.file.Files.isDirectory(q) &&
          q.getFileName.toString.startsWith("rdd-")).count().toInt
      finally s.close()
    }
  }

  test("reliable checkpointDir: value-identical to local backends, " +
    "superseded round files deleted, release empties the dir, " +
    "nothing persisted in the block manager") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-").toString
    try {
      val base = persistedIds
      val localV = Seq(
        Graph.pageRank(edges, "src", "dst", iters = 3),
        Graph.bfsHops(edges, "src", "dst", "a", maxHops = 10),
        Graph.kCoreBounded(kedges, "a", "b", k = 2, rounds = 3),
        Dedup.dupClusters(Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b"),
          (1L to 5L).toDF("doc_id"), "doc_id")
      ).map { df => val r = df.collect().map(_.toSeq).toSet; Ckpt.release(df); r }
      assert((persistedIds -- base).isEmpty)

      def withDirCheck(df: DataFrame, expectDirs: Int): Set[Seq[Any]] = {
        val rows = df.collect().map(_.toSeq).toSet
        // superseded rounds' files are deleted as the loop advances:
        // only the result-backing cut(s) remain on disk
        assert(rddDirCount(dir) == expectDirs,
          s"checkpoint dir must hold exactly $expectDirs rdd dirs " +
            s"after the call, found ${rddDirCount(dir)}")
        Ckpt.release(df)
        assert(rddDirCount(dir) == 0,
          "release must delete the result-backing checkpoint files")
        rows
      }
      val relV = Seq(
        withDirCheck(Graph.pageRank(edges, "src", "dst", iters = 3,
          checkpointDir = Some(dir)), 1),
        withDirCheck(Graph.bfsHops(edges, "src", "dst", "a", maxHops = 10,
          checkpointDir = Some(dir)), 1),
        withDirCheck(Graph.kCoreBounded(kedges, "a", "b", k = 2, rounds = 3,
          checkpointDir = Some(dir)), 1),
        withDirCheck(Dedup.dupClusters(Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b"),
          (1L to 5L).toDF("doc_id"), "doc_id", checkpointDir = Some(dir)), 1)
      )
      localV.zip(relV).zipWithIndex.foreach { case ((l, r), i) =>
        assert(l == r, s"operator $i differs between local and reliable backends")
      }
      // reliable cuts write files, not block-manager entries
      assert((persistedIds -- base).isEmpty,
        "reliable mode must not leave persistent RDDs behind")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("a failing operator releases every held checkpoint " +
    "(bpeMergeTable's exhausted-pairs guard fires with a round cut held)") {
    val base = persistedIds
    // one mergeable pair only: round 1 merges (a,b) and CUTS the new
    // segmentation; round 2 finds no adjacent pairs and throws — the
    // failure path must release the held words + seg cuts
    val docs = Seq("ab ab", "ab").toDF("text")
    intercept[IllegalArgumentException] {
      TextAnalysis.bpeMergeTable(docs, "text", numMerges = 3)
    }
    assert((persistedIds -- base).isEmpty,
      "failed bpeMergeTable must strand no checkpoints")
  }

  test("per-call reliable dir does not hijack the application's own " +
    "checkpoint dir (restored by close on success and failure paths)") {
    val appDir = java.nio.file.Files.createTempDirectory("graft-app-ckpt-").toString
    val opDir = java.nio.file.Files.createTempDirectory("graft-op-ckpt-").toString
    try {
      spark.sparkContext.setCheckpointDir(appDir)
      val pr = Graph.pageRank(edges, "src", "dst", iters = 2,
        checkpointDir = Some(opDir))
      pr.collect(); Ckpt.release(pr)
      // getCheckpointDir returns a URI (file:/...) of a UUID subdir —
      // containment of the app's root is the restore guarantee
      val after = spark.sparkContext.getCheckpointDir.get
      assert(after.contains(appDir),
        s"app checkpoint dir hijacked by operator call: $after")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(appDir))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(opDir))
    }
  }

  test("reliable mode leaves NO checkpoint-dir residue when the app had " +
    "none (exact restore to None — the public API cannot unset)") {
    val sc = spark.sparkContext
    val opDir = java.nio.file.Files.createTempDirectory("graft-op-ckpt2-").toString
    val prior = org.apache.spark.graft.CheckpointDirAccess.get(sc)
    try {
      org.apache.spark.graft.CheckpointDirAccess.restore(sc, None)
      val pr = Graph.pageRank(edges, "src", "dst", iters = 2,
        checkpointDir = Some(opDir))
      pr.collect(); Ckpt.release(pr)
      assert(sc.getCheckpointDir.isEmpty,
        "operator call must not leave its dir set on the context " +
          s"(found ${sc.getCheckpointDir})")
    } finally {
      org.apache.spark.graft.CheckpointDirAccess.restore(sc, prior)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(opDir))
    }
  }

  test("two CONCURRENT reliable-mode chains with different dirs place " +
    "every cut in their own dir (per-cut lock, r13's documented race)") {
    val dirA = java.nio.file.Files.createTempDirectory("graft-ckpt-a-").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft-ckpt-b-").toString
    try {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val fa = Future(Graph.pageRank(edges, "src", "dst", iters = 4,
        checkpointDir = Some(dirA)))
      val fb = Future(Graph.kCoreBounded(kedges, "a", "b", k = 2, rounds = 4,
        checkpointDir = Some(dirB)))
      val (pa, pb) = (Await.result(fa, 120.seconds), Await.result(fb, 120.seconds))
      val (ra, rb) = (pa.collect().map(_.toSeq).toSet, pb.collect().map(_.toSeq).toSet)
      // each chain's result-backing cut must sit in ITS dir — under the
      // r13 set-at-construction scheme one chain's rounds could land in
      // the other's directory
      assert(rddDirCount(dirA) == 1 && rddDirCount(dirB) == 1,
        s"cut placement raced: dirA=${rddDirCount(dirA)} dirB=${rddDirCount(dirB)}")
      // values match the serial local-backend runs
      val la = Graph.pageRank(edges, "src", "dst", iters = 4)
      val lb = Graph.kCoreBounded(kedges, "a", "b", k = 2, rounds = 4)
      assert(ra == la.collect().map(_.toSeq).toSet)
      assert(rb == lb.collect().map(_.toSeq).toSet)
      Seq(pa, pb, la, lb).foreach(Ckpt.release)
      assert(rddDirCount(dirA) == 0 && rddDirCount(dirB) == 0)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dirA))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dirB))
    }
  }

  test("releaseIssued prunes stopped-application residue and deletes " +
    "current-app reliable FILES for dropped results") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-sweep-").toString
    try {
      // stopped-context residue: an entry under a foreign applicationId
      // can never be acted on (one live context per JVM) — one sweep
      // must drop it
      val before = Ckpt.issuedCount
      Ckpt.registerForTest("app-stopped-000", 123456, "")
      assert(Ckpt.issuedCount == before + 1)
      Ckpt.releaseIssued(spark)
      assert(Ckpt.issuedCount == 0,
        "stopped-app residue must be pruned by releaseIssued")
      // reliable files of a result the caller dropped without release:
      // the harness sweep deletes them deterministically (pre-r14 they
      // waited for the GC-timed ContextCleaner)
      Graph.pageRank(edges, "src", "dst", iters = 2,
        checkpointDir = Some(dir)).collect()
      assert(rddDirCount(dir) == 1)
      assert(Ckpt.releaseIssued(spark) >= 1)
      assert(rddDirCount(dir) == 0,
        "releaseIssued must delete current-app reliable checkpoint files")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("Ckpt.cut (the non-iterative plan-flattening sites) honors the " +
    "conf posture: triangleCounts' two cuts land as reliable FILES " +
    "under spark.graft.checkpointDir, zero block-manager residue, " +
    "values identical to local mode") {
    val confDir = java.nio.file.Files.createTempDirectory("graft-cut-conf-").toString
    try {
      val localV = {
        val t = Graph.triangleCounts(kedges, "a", "b")
        val r = t.collect().map(_.toSeq).toSet; Ckpt.release(t); r
      }
      spark.conf.set("spark.graft.checkpointDir", confDir)
      val base = persistedIds
      val t = Graph.triangleCounts(kedges, "a", "b")
      val rows = t.collect().map(_.toSeq).toSet
      assert(rows == localV, "conf-mode triangleCounts must match local")
      assert((persistedIds -- base).isEmpty,
        "conf-mode cuts must not persist block-manager RDDs")
      assert(rddDirCount(confDir) == 2,
        s"expected the 2 result-backing cuts as files, found ${rddDirCount(confDir)}")
      Ckpt.release(t)
      assert(rddDirCount(confDir) == 0)
    } finally {
      spark.conf.unset("spark.graft.checkpointDir")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(confDir))
    }
  }

  test("the lineage-truncation log filter denies exactly the deliberate-" +
    "release warning and passes other warnings through the same loggers") {
    Ckpt.quietDeliberateUnpersistWarnings()
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.LoggerContext
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    Seq("org.apache.spark.rdd.MapPartitionsRDD",
        "org.apache.spark.sql.execution.SQLExecutionRDD").foreach { logger =>
      val lc = cfg.getLoggerConfig(logger)
      // the config that handles this logger is one of ours (a prefix
      // config carrying the filter), not root
      assert(lc.getName == "org.apache.spark.rdd" ||
        lc.getName == "org.apache.spark.sql.execution",
        s"logger $logger resolved to config ${lc.getName}")
      val f = lc.getFilter
      assert(f != null, s"no filter installed on ${lc.getName}")
      import org.apache.logging.log4j.core.Filter.Result
      import org.apache.logging.log4j.core.impl.Log4jLogEvent
      import org.apache.logging.log4j.message.SimpleMessage
      def eventFor(msg: String) = Log4jLogEvent.newBuilder()
        .setLoggerName(logger)
        .setLevel(org.apache.logging.log4j.Level.WARN)
        .setMessage(new SimpleMessage(msg)).build()
      assert(f.filter(eventFor("RDD 5 was locally checkpointed, its " +
        "lineage has been truncated and cannot be recomputed after " +
        "unpersisting")) == Result.DENY,
        "the deliberate-release warning must be denied")
      assert(f.filter(eventFor("Block rdd_5_0 could not be removed")) !=
        Result.DENY,
        "an accidental-unpersist-style warning must pass through")
    }
  }

  test("spark.graft.checkpointDir conf turns default-args calls reliable " +
    "(the one-conf-line cluster posture); per-call arg still wins") {
    val confDir = java.nio.file.Files.createTempDirectory("graft-ckpt-conf-").toString
    val argDir = java.nio.file.Files.createTempDirectory("graft-ckpt-arg-").toString
    try {
      spark.conf.set("spark.graft.checkpointDir", confDir)
      val base = persistedIds
      // a packaged-query-shaped call: NO checkpointDir argument
      val pr = Graph.pageRank(edges, "src", "dst", iters = 3)
      pr.collect()
      assert((persistedIds -- base).isEmpty,
        "conf-selected reliable mode must not persist block-manager RDDs")
      assert(rddDirCount(confDir) == 1,
        "default-args call must checkpoint into the conf directory")
      // explicit argument overrides the conf
      val pr2 = Graph.pageRank(edges, "src", "dst", iters = 3,
        checkpointDir = Some(argDir))
      pr2.collect()
      assert(rddDirCount(argDir) == 1, "per-call dir must win over the conf")
      assert(rddDirCount(confDir) == 1, "conf dir must not receive the arg call's cuts")
      Ckpt.release(pr); Ckpt.release(pr2)
      assert(rddDirCount(confDir) == 0 && rddDirCount(argDir) == 0)
    } finally {
      spark.conf.unset("spark.graft.checkpointDir")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(confDir))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(argDir))
    }
  }

  /** EVERY filesystem entry under `root` (files and dirs, root itself
    * excluded) — unlike [[rddDirCount]] this sees the per-chain UUID
    * subdirs, the residue class ADVICE r14 flagged as invisible to the
    * rdd-dir pins. */
  private def totalEntries(root: String): Int = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) 0
    else {
      val s = java.nio.file.Files.walk(p)
      try s.count().toInt - 1
      finally s.close()
    }
  }

  test("release removes the per-chain UUID subdirs too: the checkpoint " +
    "dir is COMPLETELY empty after release — iterative chain, conf-" +
    "posture Ckpt.cut, and the releaseIssued sweep all covered " +
    "(ADVICE r14: rdd-dir pins could not see empty-UUID-dir residue)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-empty-").toString
    val confDir = java.nio.file.Files.createTempDirectory("graft-cut-empty-").toString
    try {
      // (1) per-call-arg iterative chain: its rounds all share one UUID
      // subdir; releasing the result must take the subdir with it
      val pr = Graph.pageRank(edges, "src", "dst", iters = 3,
        checkpointDir = Some(dir))
      pr.collect()
      assert(totalEntries(dir) > 0, "reliable run must have written files")
      Ckpt.release(pr)
      assert(totalEntries(dir) == 0,
        s"release left ${totalEntries(dir)} entries (UUID-dir residue?) in $dir")
      // (2) conf-posture Ckpt.cut sites: triangleCounts makes TWO cuts,
      // each a throwaway one-cut chain with its own UUID subdir
      spark.conf.set("spark.graft.checkpointDir", confDir)
      val t = Graph.triangleCounts(kedges, "a", "b")
      t.collect()
      Ckpt.release(t)
      assert(totalEntries(confDir) == 0,
        s"Ckpt.cut release left ${totalEntries(confDir)} entries in $confDir")
      // (3) the harness sweep path: result dropped without release,
      // releaseIssued deletes files AND their emptied parent subdirs
      Graph.pageRank(edges, "src", "dst", iters = 2).collect()
      assert(Ckpt.releaseIssued(spark) >= 1)
      assert(totalEntries(confDir) == 0,
        s"releaseIssued left ${totalEntries(confDir)} entries in $confDir")
    } finally {
      spark.conf.unset("spark.graft.checkpointDir")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(confDir))
    }
  }

  // ---- round 17: counted cuts (VERDICT r16 #6) ----

  test("cutCounted returns the cut relation AND its row count from the " +
    "materializing job, on both backends") {
    import graft.operators.CkptChain
    val df = (1L to 257L).toDF("v").repartition(7)
    val expect = (1L to 257L).map(Seq(_)).toSet

    def check(ch: CkptChain): Unit = {
      val (cut, n) = ch.cutCounted("s")(df)
      assert(n == 257L, s"materializing count must equal the row count, got $n")
      assert(cut.collect().map(_.toSeq).toSet == expect,
        "counted cut must return the same relation as a plain cut")
      ch.close()
    }

    // local DISK_ONLY
    check(new CkptChain(spark, None))
    // reliable checkpoint-dir backend
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-").toString
    try check(new CkptChain(spark, Some(dir)))
    finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    assert(Ckpt.releaseIssued(spark) == 0,
      "close() must have released every counted cut")
  }
}
