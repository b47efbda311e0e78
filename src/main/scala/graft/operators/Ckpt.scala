package graft.operators

import org.apache.spark.graft.CheckpointDirAccess
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Lineage-flattening checkpoint plumbing for the iterative operator
  * families ([[Graph]]'s traversals, [[Dedup.dupClusters]]'s
  * min-label propagation, [[TextAnalysis.bpeMergeTable]]'s merge loop)
  * — extracted to its own object in round 13 and taught the full block
  * LIFECYCLE, not just the cut:
  *
  *   - '''Backends.''' `local` = `localCheckpoint` on DISK_ONLY
  *     blocks (the round-12 A/B, see [[Graph]]);
  *     `reliable` = `Dataset.checkpoint()` into the context's
  *     checkpoint dir. Local checkpoints store blocks on executors with
  *     NO lineage fallback — one executor loss mid-iteration kills the
  *     job — so a long-running cluster deployment passes
  *     `checkpointDir` to the iterative operators and gets the reliable
  *     backend (write-per-round to durable storage, survives executor
  *     loss). The two backends are value-identical by construction
  *     (GraphSpec pins both).
  *
  *   - '''Release.''' Before round 13 each iteration checkpointed a new
  *     relation and abandoned the previous one; blocks were only
  *     reclaimed when the RDD object happened to be GC'd (the bench's
  *     r12 artifact counted 184 leaked RDDs it swept up itself). Now
  *     [[CkptChain]] releases round N−1's storage as soon as round N is
  *     eagerly materialized — the loop holds O(1) checkpoints instead
  *     of O(rounds), which is the difference between bounded and
  *     unbounded storage on a multi-hour 100 TB iterative job.
  *     [[Ckpt.release]] frees both block-manager blocks (local) and
  *     checkpoint FILES (reliable — superseded rounds must not
  *     accumulate in durable storage either).
  *
  *   - '''The result-backing checkpoint.''' The final round's
  *     checkpoint necessarily backs the RETURNED DataFrame — an
  *     operator cannot release it without destroying its own result, so
  *     exactly one checkpoint per call (two for [[Graph.triangleCounts]],
  *     whose result reads both cuts) outlives the call, caller-owned.
  *     Callers that have fully consumed the result free it with
  *     [[Ckpt.release]] (or the foreign-leaf-safe [[Ckpt.releaseResult]]);
  *     harnesses that know ALL outstanding results are consumed (the
  *     bench, after each query's sink completes) use
  *     [[Ckpt.releaseIssued]], which frees every graft-issued
  *     checkpoint still held — block-manager blocks AND reliable-mode
  *     files (round 14; their paths are recorded at issue time) — and
  *     leaves foreign blocks alone.
  */
object Ckpt {

  /** (applicationId, rddId) → checkpoint file path ("" for local-mode
    * block checkpoints) of checkpoint RDDs issued by graft operators
    * and not yet released. Ids + paths only — holding the RDDs
    * themselves would extend their lifetime past the ContextCleaner's
    * weak-reference reclaim and turn the registry into its own leak.
    * Scoping by applicationId matters in a long-lived JVM: RDD ids
    * restart at 0 per SparkContext, so a bare-id registry carrying a
    * stale entry from a stopped context could match — and
    * [[releaseIssued]] would then unpersist — a FOREIGN cache in the
    * next context that happened to get the same id. Pruned on every
    * [[releaseIssued]]: live-context entries against the persistent
    * set, and (round 14) ALL entries of other applicationIds — only
    * one SparkContext can be active per JVM, so a foreign app key is
    * stopped-context residue by construction. */
  private val issued =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), String]()
  private def key(rdd: RDD[_]): (String, Int) =
    (rdd.context.applicationId, rdd.id)

  /** Serializes reliable-mode cuts process-wide: the checkpoint
    * directory is SparkContext-GLOBAL state, so the
    * [point at chain's dir → eager checkpoint → exact-restore prior]
    * window of one cut must not interleave with another chain's. Held
    * for the duration of the eager checkpoint job — two CONCURRENT
    * reliable-mode operators therefore serialize their cuts, and since
    * a BSP loop does most of its compute inside the eager cut, that
    * means largely serializing the loops themselves (placement
    * correctness over overlap — the judged alternative, failing fast on
    * a dir conflict, turns a benign race into an error; local-mode
    * callers never touch the lock). An application thread calling its own
    * `df.checkpoint()` concurrently does not take this lock and can
    * still land in the chain's dir during a cut window — inherent to
    * Spark's context-global API; the exact-restore keeps the window as
    * narrow as one cut. */
  private[operators] val reliableLock = new Object

  /** Test-only registry injection (CkptLifecycleSpec's stopped-context
    * residue pin). */
  private[graft] def registerForTest(app: String, id: Int, file: String): Unit =
    issued.put((app, id), file)

  @volatile private var quieted = false

  /** Suppress exactly the one warning the release path makes deliberate
    * noise of — Spark's per-RDD "lineage has been truncated and cannot
    * be recomputed after unpersisting" — via a log4j2 RegexFilter on
    * that message, NOT a logger level change (round 14, was a blanket
    * MapPartitionsRDD→ERROR raise): an ACCIDENTAL unpersist elsewhere
    * logs a different message through the same loggers and must stay
    * visible, and checkpoint RDDs of other concrete classes share the
    * fate. The filter is installed on the `org.apache.spark.rdd` and
    * `org.apache.spark.sql.execution` logger configs (DENY on match,
    * NEUTRAL otherwise), covering every RDD subclass that can back a
    * local checkpoint. Explicit OPT-IN for harnesses
    * (GraftSession/TestSpark call it); deliberately NOT a class-load
    * side effect, so an application that merely links the library keeps
    * its own warning trail. Idempotent. */
  def quietDeliberateUnpersistWarnings(): Unit = {
    if (quieted) return
    try {
      import org.apache.logging.log4j.core.Filter.Result
      import org.apache.logging.log4j.core.LoggerContext
      import org.apache.logging.log4j.core.config.LoggerConfig
      import org.apache.logging.log4j.core.filter.RegexFilter
      val ctx = org.apache.logging.log4j.LogManager.getContext(false)
        .asInstanceOf[LoggerContext]
      val cfg = ctx.getConfiguration
      Seq("org.apache.spark.rdd", "org.apache.spark.sql.execution")
        .foreach { name =>
          val resolved = cfg.getLoggerConfig(name)
          val lc =
            if (resolved.getName == name) resolved
            else { // no config at this name yet: add an additive one
              val nu = new LoggerConfig(name, resolved.getLevel, true)
              cfg.addLogger(name, nu)
              nu
            }
          lc.addFilter(RegexFilter.createFilter(
            ".*truncated and cannot be recomputed after unpersisting.*",
            null, false, Result.DENY, Result.NEUTRAL))
        }
      ctx.updateLoggers()
      quieted = true
    } catch { case _: Throwable => () }
  }

  /** The checkpoint-backing RDDs under a Dataset: `checkpoint()` /
    * `localCheckpoint()` return a Dataset whose analyzed plan is a
    * `LogicalRDD` leaf wrapping the materialized RDD; plans DERIVED
    * from checkpointed relations carry those leaves below projections
    * and joins, so a collect over the analyzed tree finds every
    * checkpoint a result still depends on. */
  private def backingRdds(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }

  private def track(df: DataFrame): DataFrame = {
    backingRdds(df).foreach { r =>
      issued.put(key(r), r.getCheckpointFile.getOrElse(""))
    }
    df
  }

  /** Local (executor-block) checkpoint cut. DISK_ONLY blocks —
    * serialized through the OS page cache, flat RSS (the round-12 A/B
    * measured it flat-to-better than MEMORY_AND_DISK, numbers in
    * PLANS.md). Fast and correct, but NOT durable: no lineage fallback,
    * so an executor loss mid-job is unrecoverable — iterative operators
    * expose `checkpointDir` to switch to [[reliable]] for cluster runs. */
  def local(df: DataFrame): DataFrame = localCounted(df)._1

  /** [[local]] that also returns the cut's row count — taken from the
    * eager checkpoint's OWN materializing job (round 17, VERDICT r16
    * #6), so convergence-checked loops pay one job per round, not a cut
    * job plus a count job. */
  def localCounted(df: DataFrame): (DataFrame, Long) = {
    val (cut, n) = org.apache.spark.sql.GraftCheckpointBridge
      .cutCounted(df, reliable = false, Some(StorageLevel.DISK_ONLY))
    (track(cut), n)
  }

  /** Reliable checkpoint cut into the context's checkpoint dir (the
    * caller — normally [[CkptChain]], which holds [[reliableLock]] and
    * exact-restores the application's prior dir around the cut — has
    * set it). Survives executor loss at the cost of a durable write per
    * cut.
    *
    * Known cost shape (PLANS.md round 13): eager
    * `Dataset.checkpoint()` on an unpersisted plan runs the result
    * stage twice — once for the eager count, once for the
    * checkpoint-file write — but shuffle map stages are REUSED, so the
    * recompute is the final stage only. Staging through a local
    * checkpoint first (compute once → blocks, file-write reads blocks)
    * measured as a wash-to-slightly-worse at sf0.1 (plain 6.43 s vs
    * staged 6.74 on the c57 loop, identical checksums): the saved
    * final-stage recompute is repaid in block write+read. Kept plain
    * per the measured-win-only rule. */
  def reliable(df: DataFrame): DataFrame = track(df.checkpoint())

  /** [[reliable]] with the materializing count returned (see
    * [[localCounted]]). Caller ([[CkptChain.reliableCut]]) holds
    * [[reliableLock]] and has pointed the context's checkpoint dir. */
  def reliableCounted(df: DataFrame): (DataFrame, Long) = {
    val (cut, n) = org.apache.spark.sql.GraftCheckpointBridge
      .cutCounted(df, reliable = true, None)
    (track(cut), n)
  }

  /** One-off conf-aware cut for the NON-iterative plan-flattening sites
    * (triangleCounts' edge/orientation cuts, neighborJaccard's dedup,
    * clusterMedoids' verified-pair cut, s13's index-lifetime cut):
    * local by default, reliable into `spark.graft.checkpointDir` when
    * the session conf is set — so the one-conf-line durable posture
    * covers EVERY graft checkpoint, not only the iterative chains (a
    * local cut truncates lineage, so on a cluster an executor loss
    * after the cut kills the job exactly like a mid-loop loss would).
    * Same lock/exact-restore discipline as a chain cut.
    *
    * Each call deliberately mints its OWN UUID subdir (a throwaway
    * one-cut chain) rather than sharing a process-lifetime subdir per
    * (app, conf-dir): the released-when-empty cleanup in [[deleteFile]]
    * already reduces the residue of per-call isolation to zero, and a
    * SHARED subdir would couple unrelated results' lifecycles — a
    * sweep that observes "this subdir is empty, delete it" racing a
    * concurrent cut is benign (non-recursive delete fails, the writer
    * re-mkdirs), but a shared dir makes every such window concurrent
    * with every other cut in the process instead of only this call's.
    * Isolation also keeps the layout identical to the public
    * `setCheckpointDir` contract (one UUID level per establishment),
    * so external tooling that walks checkpoint dirs sees one shape. */
  def cut(df: DataFrame): DataFrame =
    new CkptChain(df.sparkSession, None).cut("cut")(df)

  /** Free one checkpoint RDD's storage: block-manager blocks (local
    * mode; no-op for reliable cuts, which persist nothing) and the
    * checkpoint files (reliable mode). */
  private def free(rdd: RDD[_], hadoopConf: org.apache.hadoop.conf.Configuration): Unit = {
    rdd.unpersist(blocking = false)
    rdd.getCheckpointFile.foreach(deleteFile(_, hadoopConf))
  }

  private def deleteFile(f: String,
                         hadoopConf: org.apache.hadoop.conf.Configuration): Unit = {
    val p = new org.apache.hadoop.fs.Path(f)
    try {
      val fs = p.getFileSystem(hadoopConf)
      fs.delete(p, true)
      // the rdd-N dir's parent is a per-chain UUID subdir (minted by
      // reliableCut, or by the public setCheckpointDir for non-graft
      // checkpoints a full release sweeps) — removing the LAST rdd dir
      // must remove the now-empty parent too (ADVICE r14: a reliable-
      // mode 270-query sweep left hundreds of empty UUID dirs). The
      // non-recursive delete fails harmlessly if a concurrent cut
      // repopulated it between the emptiness check and the delete; a
      // later cut that still holds the path re-mkdirs it on write.
      val parent = p.getParent
      if (parent != null && fs.listStatus(parent).isEmpty)
        fs.delete(parent, false)
    } catch { case _: java.io.IOException => () }
  }

  /** Release the storage behind a checkpointed DataFrame — block-manager
    * blocks (local mode) and checkpoint files (reliable mode) of EVERY
    * checkpoint the plan depends on, graft-issued or not. The DataFrame
    * (and any view built on it) is unusable afterwards: local-
    * checkpointed data has no lineage to recompute from and reliable
    * files are deleted. Call only once the result is fully consumed.
    * Harnesses sweeping results they did not build should prefer
    * [[releaseResult]], which skips foreign `LogicalRDD` leaves. */
  def release(df: DataFrame): Unit = {
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    backingRdds(df).foreach { rdd =>
      issued.remove(key(rdd))
      free(rdd, conf)
    }
  }

  /** [[release]] restricted to graft-ISSUED checkpoints: frees exactly
    * the backing leaves this library created (registry hit) and leaves
    * any other `LogicalRDD` leaf — e.g. a cached fixture the caller
    * built from an RDD — untouched. Deterministic for BOTH backends
    * (blocks unpersisted, reliable files deleted), which makes it the
    * right per-query sweep for harnesses: under the one-conf-line
    * `spark.graft.checkpointDir` posture every result-backing cut is
    * durable FILES that a persistent-RDD sweep would never see.
    * Returns the number of checkpoints freed. */
  def releaseResult(df: DataFrame): Int = {
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    var n = 0
    backingRdds(df).foreach { rdd =>
      if (issued.remove(key(rdd)) != null) { free(rdd, conf); n += 1 }
    }
    n
  }

  /** Release every graft-issued checkpoint still held against `spark`'s
    * context and return how many were freed. For harnesses that know
    * all outstanding operator results are consumed (the bench calls
    * this after each query's sink completes) — a deterministic backstop
    * behind per-result [[releaseResult]] calls when a result itself is
    * out of scope. Local-mode entries are matched against the context's
    * persistent set and unpersisted; reliable-mode entries (round 14)
    * carry their checkpoint file path in the registry, so their FILES
    * are deleted here too — previously they were caller-owned only and
    * a full sweep under the conf-dir posture accumulated files until
    * the GC-timed ContextCleaner backstop. Foreign persistent RDDs
    * (caches the caller created) are never touched. */
  def releaseIssued(spark: SparkSession): Int = {
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val app = sc.applicationId
    // snapshot the registry FIRST (ADVICE r14): every phase below acts
    // only on entries that existed when the sweep began. A checkpoint
    // issued CONCURRENTLY by another thread (a pattern reliableLock
    // explicitly supports) lands after this snapshot and is neither
    // swept (its result is still live) nor pruned (a prune over the
    // live key set raced against an earlier `persistent` snapshot
    // silently dropped such entries from the registry, stranding their
    // blocks on the GC-timed ContextCleaner) — it is simply left for
    // the next sweep, by which point its result is consumed.
    val snapshot = issued.keySet.asScala.toSet
    val persistent = sc.getPersistentRDDs
    var n = 0
    persistent.foreach { case (id, rdd) =>
      if (snapshot.contains((app, id)) && issued.remove((app, id)) != null) {
        rdd.unpersist(blocking = false); n += 1
      }
    }
    // current-app reliable entries: not persistent RDDs, but their file
    // paths were recorded at issue time — delete and count them
    snapshot.filter(_._1 == app).foreach { k =>
      val f = issued.get(k)
      if (f != null && f.nonEmpty && issued.remove(k) != null) {
        deleteFile(f, sc.hadoopConfiguration); n += 1
      }
    }
    // prune (snapshot-scoped): current-app local entries no longer
    // persistent are gone for good (ContextCleaner property once
    // unreachable), and ANY other-app entry is stopped-context residue
    // (one live context per JVM) that this registry could never act on
    // — drop both, so the registry is bounded by the number of LIVE
    // checkpoints, period.
    issued.keySet.removeIf(k => snapshot.contains(k) &&
      (k._1 != app || !persistent.contains(k._2)))
    n
  }

  /** Number of graft-issued checkpoints not yet released (diagnostic). */
  def issuedCount: Int = issued.size()
}

/** One operator call's chain of per-round checkpoints. `cut(slot)(df)`
  * checkpoints `df` eagerly (backend per `checkpointDir`) under a named
  * slot and RELEASES the slot's previous checkpoint — safe because the
  * successor is fully materialized before the predecessor's storage is
  * dropped, so nothing can ever need to re-read it. A loop that cuts
  * the same slot each round therefore holds O(1) checkpoints instead of
  * O(rounds). `close(keep*)` releases every still-held slot except the
  * ones backing the returned result (those are caller-owned — see
  * [[Ckpt]]'s lifecycle note).
  *
  * Backend resolution: the per-call `checkpointDir` argument wins; when
  * it is None, the session conf `spark.graft.checkpointDir` (if set)
  * supplies the reliable directory — so a cluster deployment turns the
  * WHOLE iterative family durable with one conf line, without editing
  * every call site (the packaged queries all call with defaults);
  * otherwise the local backend applies.
  *
  * Reliable mode routes through the context-global `setCheckpointDir`
  * state; every cut runs under a process-wide lock as
  * [set this chain's dir → eager checkpoint → exact-restore the prior
  * value] (round 14, was set-at-construction/restore-at-close with a
  * documented-only race). Two concurrent reliable-mode chains with
  * DIFFERENT dirs therefore place every cut correctly — their durable
  * writes serialize on the lock — and the application's own checkpoint
  * dir is untouched outside cut windows, INCLUDING the had-none case:
  * the exact restore puts back `None` rather than leaving graft's dir
  * set (the public API has no unset — see
  * [[org.apache.spark.graft.CheckpointDirAccess]]). */
private[graft] final class CkptChain(spark: SparkSession,
                                     checkpointDir: Option[String]) {
  private val dir: Option[String] =
    checkpointDir.orElse(spark.conf.getOption("spark.graft.checkpointDir"))
  // the chain's UUID subdir under `dir`, created by the first cut (the
  // public setCheckpointDir mints one per call; reusing it keeps all of
  // one call's rounds under a single subdir)
  private var ourSub: Option[String] = None
  private var held = Map.empty[String, DataFrame]

  private def reliableCut[A](d: String, df: DataFrame,
                             cut: DataFrame => A): A =
    Ckpt.reliableLock.synchronized {
      val sc = spark.sparkContext
      val prior = CheckpointDirAccess.get(sc)
      val sub = ourSub.getOrElse {
        // mint the UUID subdir ourselves (the same layout the public
        // setCheckpointDir creates) instead of calling it and reading
        // the result back — an app thread racing its own
        // setCheckpointDir between our set and our read could otherwise
        // be adopted as this chain's directory
        val path = new org.apache.hadoop.fs.Path(d,
          java.util.UUID.randomUUID().toString)
        val fs = path.getFileSystem(sc.hadoopConfiguration)
        fs.mkdirs(path)
        val s = fs.getFileStatus(path).getPath.toString
        ourSub = Some(s)
        s
      }
      CheckpointDirAccess.restore(sc, Some(sub))
      try cut(df)
      finally CheckpointDirAccess.restore(sc, prior)
    }

  def cut(slot: String)(df: DataFrame): DataFrame = {
    val cur = dir match {
      case Some(d) => reliableCut(d, df, Ckpt.reliable)
      case None    => Ckpt.local(df)
    }
    held.get(slot).foreach(Ckpt.release)
    held += slot -> cur
    cur
  }

  /** [[cut]] that also returns the cut's row count, read off the eager
    * checkpoint's own materializing job (round 17, VERDICT r16 #6) —
    * the one-job-per-round form for convergence-checked loops. */
  def cutCounted(slot: String)(df: DataFrame): (DataFrame, Long) = {
    val (cur, n) = dir match {
      case Some(d) => reliableCut(d, df, Ckpt.reliableCounted)
      case None    => Ckpt.localCounted(df)
    }
    held.get(slot).foreach(Ckpt.release)
    held += slot -> cur
    (cur, n)
  }

  /** Release every held checkpoint except the `keep` slots. Call once
    * on EVERY exit path — right before returning the result, and with
    * no `keep` from a failure handler (a loop that throws mid-round
    * must not strand its held rounds; see the operators' try/catch).
    * The context checkpoint dir needs no restore here: each cut
    * restores it exactly. */
  def close(keep: String*): Unit = {
    val ks = keep.toSet
    held.foreach { case (slot, df) => if (!ks.contains(slot)) Ckpt.release(df) }
    held = held.filter { case (slot, _) => ks.contains(slot) }
  }
}
