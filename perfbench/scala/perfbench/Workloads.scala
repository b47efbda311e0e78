package perfbench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.etl.{EtlJob, EtlRunner, Generator, SchemaTools}
import graft.operators.{Ckpt, Dedup, Similarity}
import graft.plans.SelfPairsByKey
import graft.sources.Sources
import graft.streaming.Streams

object Workloads {
  def apply(name: String): Workload = name match {
    case "etl_parquet" => new EtlParquet
    case "etl_jdbc" => new EtlJdbc
    case "dedup_search" => new DedupSearch
    case "stream_cdc" => new StreamCdc
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** key=value lines written by the input generator. */
  def params(ctx: Ctx): Map[String, String] = {
    val p = new java.util.Properties()
    val in = new java.io.FileInputStream(s"${ctx.inputs}/params.properties")
    try p.load(in) finally in.close()
    import scala.jdk.CollectionConverters._
    p.asScala.toMap
  }

  /** Spark jobs started inside a span (listener times are whole ms). */
  def jobsIn(s: Span, jobs: Seq[JobRec]): Seq[JobRec] =
    jobs.filter(j => j.start >= s.start - 2000000L && j.start <= s.end)

  /** etl.* samples: for each `runJob` span, the ETL job group's Spark
    * jobs are busy time; the rest of the call is idle time. */
  def etlLayers(ctx: Ctx, spans: Seq[Span], jobs: Seq[JobRec]): Unit = {
    spans.filter(_.name == "etl.job").foreach { s =>
      val mine = jobsIn(s, jobs).filter(_.group.startsWith("graft-etl-"))
      val busy = Intervals.union(mine.map(j =>
        (math.max(j.start, s.start), math.min(j.end, s.end)))) / 1e9
      ctx.sample("etl.job_s", s.durS)
      ctx.sample("etl.busy_s", busy)
      ctx.sample("etl.idle_s", s.durS - busy)
      ctx.sample("etl.idle_ratio", (s.durS - busy) / s.durS)
    }
    spans.filter(_.name == "etl.plan").foreach(s => ctx.sample("etl.plan_s", s.durS))
  }
}

/** Reference-shaped (name, extract SQL, target) jobs into parquet: one
  * large join and several small seeded slices per round. */
final class EtlParquet extends Workload {
  private var jobs: Seq[EtlJob] = Nil

  override def register(ctx: Ctx): Unit = {
    val src = scala.io.Source.fromFile(s"${ctx.inputs}/jobs.tsv", "UTF-8")
    jobs = try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(name, extract, write) = l.split("\t")
      EtlJob(name, extract, write, mode = "overwrite")
    }.toList finally src.close()
    Seq("lineitem", "orders", "customer").foreach(t =>
      EtlRunner.registerSource(ctx.spark, t, s"${ctx.inputs}/$t.parquet"))
  }

  /** One pass over the job list, as the reference's sequential `runAll`;
    * the warm-up is one such pass, so every job shape is planned and
    * compiled once before timing. */
  def round(ctx: Ctx, tag: String): Seq[UnitRec] = {
    val target = ctx.out(tag)
    val units = jobs.map { job =>
      ctx.timed(job.name, Map("path" -> s"$target/${job.write}", "job" -> job.name)) {
        if (ctx.traced) ctx.tracer.span("etl.plan") {
          SchemaTools.projectToTarget(
            SchemaTools.normalizeUppercase(ctx.spark.sql(job.extract)), job.targetColumns)
            .queryExecution.executedPlan
        }
        val r = ctx.tracer.span("etl.job")(ctx.runner.runJob(job, target))
        (r.rowsWritten, r.balanced)
      }
    }
    ctx.sample("etl.balanced_ratio", units.count(_.ok).toDouble / units.size)
    units
  }

  override def traceLayers(ctx: Ctx, spans: Seq[Span], jobs: Seq[JobRec],
                           stages: Seq[StageRec]): Unit =
    Workloads.etlLayers(ctx, spans, jobs)
}

/** The reference's load path: seeded `Generator.addresses` rows into
  * embedded in-memory Derby through `runJob(format = "jdbc")` (2,000-row
  * batches), then read back through the partitioned JDBC source into
  * parquet. In-memory Derby never flushes to disk, so this measures JDBC
  * row conversion and batching, not storage. */
final class EtlJdbc extends Workload {
  private val url = "jdbc:derby:memory:perfbench;create=true"
  private val cols = Seq("ID", "STREET_ADDRESS", "CITY", "STATE", "POSTAL_CODE", "COUNTRY")
  private var rows = 0L
  private var offset = 0L

  private def source(ctx: Ctx) = s"${ctx.prepared}/addresses"

  /** Writes every id range a seed may choose, once per build, in a JVM of
    * its own, so every timed JVM starts equally cold. */
  override def prepare(ctx: Ctx): Unit =
    Generator.addresses(ctx.spark, Workloads.params(ctx)("span").toLong)
      .write.mode("overwrite").parquet(source(ctx))

  /** `addresses` is the seed's id range of the prepared rows. */
  override def register(ctx: Ctx): Unit = {
    val p = Workloads.params(ctx)
    rows = p("rows").toLong
    offset = p("offset").toLong
    EtlRunner.registerSource(ctx.spark, "addresses_all", source(ctx))
      .where(col("id") > offset && col("id") <= offset + rows)
      .createOrReplaceTempView("addresses")
  }

  def round(ctx: Ctx, tag: String): Seq[UnitRec] = {
    // at most nproc connections, and no more than the reference's pool of 5
    val conns = math.min(ctx.nproc, 5)
    val opts = Map("url" -> url)
    val table = s"ADDR_${tag.toUpperCase}"
    val back = ctx.out(tag)
    def ddl(name: String, stmt: String) =
      ctx.runner.runJob(EtlJob(name, "select 1", stmt, mode = "ddl"), ctx.work, "jdbc", opts)
    Seq(ctx.timed("load_round", Map("path" -> s"$back/addresses_back")) {
      ddl(s"create_$tag", s"CREATE TABLE $table (ID INTEGER PRIMARY KEY, " +
        "STREET_ADDRESS VARCHAR(100), CITY VARCHAR(50), STATE VARCHAR(50), " +
        "POSTAL_CODE VARCHAR(20), COUNTRY VARCHAR(50))")
      val load = EtlJob("addr_load", s"SELECT /*+ REPARTITION($conns) */ id, " +
        "street_address, city, state, postal_code, country FROM addresses",
        table, "append", cols)
      val w = ctx.tracer.span("sources.jdbc_write")(
        ctx.tracer.span("etl.job")(ctx.runner.runJob(load, ctx.work, "jdbc", opts)))
      // read back with a plain DataFrameWriter: runJob's file-sink settle
      // poll would otherwise dominate this span, and the workload is meant
      // to bypass that poll
      ctx.tracer.span("sources.jdbc_read") {
        Sources.jdbc(ctx.spark, url, table, Some(("ID", offset + 1, offset + rows + 1)), conns)
          .write.mode("overwrite").parquet(s"$back/addresses_back")
      }
      ddl(s"drop_$tag", s"DROP TABLE $table")
      ctx.sample("etl.balanced_ratio", if (w.balanced) 1.0 else 0.0)
      // the read-back's rows are counted and hashed by the output check
      (w.rowsWritten + rows, w.balanced && w.rowsWritten == rows)
    })
  }

  override def traceLayers(ctx: Ctx, spans: Seq[Span], jobs: Seq[JobRec],
                           stages: Seq[StageRec]): Unit = {
    Workloads.etlLayers(ctx, spans, jobs)
    val tasksOf = stages.map(s => s.id -> s.numTasks).toMap
    def conns(name: String): Double = spans.filter(_.name == name).map { s =>
      Workloads.jobsIn(s, jobs).flatMap(_.stages).flatMap(tasksOf.get).maxOption.getOrElse(0)
    }.sum.toDouble
    spans.filter(_.name == "sources.jdbc_write").foreach(s =>
      ctx.sample("sources.jdbc_write_s", s.durS))
    spans.filter(_.name == "sources.jdbc_read").foreach(s =>
      ctx.sample("sources.jdbc_read_s", s.durS))
    ctx.sample("sources.jdbc_conns", conns("sources.jdbc_write") + conns("sources.jdbc_read"))
  }
}

/** Near-duplicate detection (`minHashDupPairs` -> `dupClusters` ->
  * `keepBestPerCluster`) over documents with planted near-duplicates,
  * plus `annKnn` over embeddings with seeded queries. Traced rounds run
  * the same calls; `probe` splits `minHashDupPairs` into its stages. */
final class DedupSearch extends Workload {
  private var docs: DataFrame = _
  private var emb: DataFrame = _
  private var queries: DataFrame = _
  private var rows = 0L

  override def register(ctx: Ctx): Unit = {
    val p = Workloads.params(ctx)
    rows = p("documents").toLong + p("vectors").toLong
    docs = EtlRunner.registerSource(ctx.spark, "documents", s"${ctx.inputs}/documents.parquet")
    emb = EtlRunner.registerSource(ctx.spark, "embeddings", s"${ctx.inputs}/embeddings.parquet")
    queries = EtlRunner.registerSource(ctx.spark, "queries", s"${ctx.inputs}/queries.parquet")
  }

  def round(ctx: Ctx, tag: String): Seq[UnitRec] = {
    val dir = ctx.out(tag)
    val out = Map("pairs" -> s"$dir/pairs", "kept" -> s"$dir/kept", "ann" -> s"$dir/ann.tsv")
    Seq(ctx.timed("dedup_search", out) {
      val spark = ctx.spark
      ctx.tracer.span("operators.dup_pairs")(
        Dedup.minHashDupPairs(docs, "doc_id", "text").write.parquet(out("pairs")))
      val pairs = spark.read.parquet(out("pairs"))
      val clusters = ctx.tracer.span("operators.clusters")(
        Dedup.dupClusters(pairs, docs.select("doc_id"), "doc_id"))
      ctx.tracer.span("operators.keep")(
        Dedup.keepBestPerCluster(clusters, docs, "doc_id", "quality").write.parquet(out("kept")))
      Ckpt.releaseIssued(spark)

      val (ann, hits) = ctx.tracer.span("operators.ann") {
        val a = Similarity.annKnn(emb, queries, "vec_id", "embedding", 10)
          .select("query_id", "nn_id", "rank")
        (a, a.collect())
      }
      val text = hits.map(r => s"${r.getLong(0)}\t${r.getLong(1)}\t${r.getInt(2)}").mkString("\n")
      java.nio.file.Files.write(java.nio.file.Paths.get(out("ann")), text.getBytes("UTF-8"))
      if (ctx.traced && hits.nonEmpty)
        DedupSearch.scoredPairs(ann.queryExecution.executedPlan).foreach(n =>
          ctx.sample("operators.ann_scored_per_hit", n.toDouble / hits.length))
      (rows, true)
    })
  }

  /** `minHashDupPairs` taken apart into its public stages, each
    * materialised so it gets its own time. This is a copy of that call's
    * body with its defaults (64 hashes in 32 bands of 2, 3-word shingles,
    * Jaccard >= 0.6); it must give the round's pair set, so a change to
    * `minHashDupPairs` that the copy misses stops the run. */
  override def probe(ctx: Ctx, tag: String): Unit = {
    def stage[T](name: String)(body: => T): T = {
      val t0 = Clock.now
      val v = ctx.tracer.span(name)(body)
      ctx.sample(s"${name}_s", (Clock.now - t0) / 1e9)
      v
    }
    def cached(df: DataFrame): (DataFrame, Long) = { val c = df.persist(); (c, c.count()) }
    val (banded, _) = stage("operators.signatures")(cached(
      Dedup.lshBands(Dedup.minHashSignatures(docs, "doc_id", "text", 64, 3), "doc_id", 32, 2)))
    val (cand, candidates) = stage("plans.pairs")(cached(
      SelfPairsByKey.selfPairsByKey(banded, Seq("band_idx", "band_hash"), "doc_id").distinct()))
    val (verified, found) = stage("operators.verify")(cached(
      Dedup.verifyJaccard(cand, docs, "doc_id", "text", 0.6, 3).select("id_a", "id_b")))
    val round = ctx.spark.read.parquet(s"${ctx.out(tag)}/pairs").select("id_a", "id_b")
    val drift = verified.exceptAll(round).count() + round.exceptAll(verified).count()
    Seq(banded, cand, verified).foreach(_.unpersist())
    if (drift != 0)
      throw new IllegalStateException(
        s"decomposed minHashDupPairs differs from the call by $drift pairs")
    ctx.sample("plans.candidate_pairs", candidates.toDouble)
    ctx.sample("operators.verify_yield", found.toDouble / math.max(1L, candidates))
  }

  override def traceLayers(ctx: Ctx, spans: Seq[Span], jobs: Seq[JobRec],
                           stages: Seq[StageRec]): Unit =
    spans.foreach { s =>
      s.name match {
        case "operators.dup_pairs" => ctx.sample("operators.dup_pairs_s", s.durS)
        case "operators.clusters" =>
          ctx.sample("operators.clusters_s", s.durS)
          ctx.sample("operators.cluster_jobs", Workloads.jobsIn(s, jobs).size.toDouble)
        case "operators.keep" => ctx.sample("operators.keep_s", s.durS)
        case "operators.ann" => ctx.sample("operators.ann_s", s.durS)
        case _ => ()
      }
    }
}

object DedupSearch {
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other.children.flatMap(nodes)
  })

  /** (query, candidate) pairs `annKnn` scored: the rows that reach its
    * top-k window, read from the executed plan's SQL metrics (the first
    * row count under the window that is not a group-limit pre-filter). */
  def scoredPairs(plan: SparkPlan): Option[Long] =
    nodes(plan).collectFirst { case w: WindowExec => w }.flatMap { w =>
      nodes(w.child).iterator.filterNot(_.nodeName == "WindowGroupLimit")
        .flatMap(_.metrics.get("numOutputRows")).map(_.value).find(_ > 0)
    }
}

/** A seeded upsert/delete change stream replayed one file per micro-batch
  * through `Streams.cdcApply`, whose per-batch merge rewrites a mirror
  * that grows with the keys seen so far. */
final class StreamCdc extends Workload {
  private val schema = StructType(Seq(StructField("k", LongType), StructField("ts", LongType),
    StructField("seq", LongType), StructField("op", StringType), StructField("v", DoubleType)))
  private var changes: DataFrame = _

  override def register(ctx: Ctx): Unit =
    changes = Streams.replayStream(ctx.spark, s"${ctx.inputs}/changes", schema, 1)

  def round(ctx: Ctx, tag: String): Seq[UnitRec] = {
    val dir = ctx.out(tag)
    val mirror = s"$dir/mirror"
    val t0 = Clock.now
    var callS = 0.0
    val err = try {
      val applied = try ctx.tracer.span("streaming.cdc_apply")(
        Streams.cdcApply(ctx.spark, changes, "k", "ts", "seq", "op", "v", s"$dir/state"))
      finally callS = (Clock.now - t0) / 1e9
      applied.write.parquet(mirror)
      ""
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[perfbench] cdcApply failed: $e"); e.toString
    }
    val batches = ctx.stream.finished().filter(_.inputRows > 0)
    if (ctx.traced && batches.nonEmpty) {
      batches.foreach(p => ctx.tracer.external("streaming.batch", p.start, p.end))
      def sumS(k: String) = batches.map(_.ms(k)).sum / 1000.0
      ctx.sample("streaming.batches", batches.size.toDouble)
      ctx.sample("streaming.trigger_s", sumS("triggerExecution"))
      ctx.sample("streaming.add_batch_s", sumS("addBatch"))
      ctx.sample("streaming.plan_s", sumS("queryPlanning"))
      ctx.sample("streaming.wal_s", sumS("walCommit") + sumS("commitOffsets"))
      ctx.sample("streaming.harness_s", callS - sumS("triggerExecution"))
      val states = Option(new File(s"$dir/state").listFiles).getOrElse(Array.empty[File])
        .filter(_.getName.startsWith("state_"))
      states.maxByOption(_.getName.stripPrefix("state_").toLong).foreach { d =>
        ctx.sample("streaming.mirror_bytes",
          d.listFiles.filter(_.getName.endsWith(".parquet")).map(_.length).sum.toDouble)
      }
    }
    if (err.nonEmpty || batches.isEmpty)
      Seq(UnitRec("cdc_apply", callS, 0L, ok = false, err = err))
    else batches.map(p => UnitRec("batch", p.ms("triggerExecution") / 1000.0, p.inputRows,
      ok = true, out = Map("mirror" -> mirror)))
  }
}
