package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._

import graft.{Pipeline, SparkEntry}
import graft.ops.{Moderation, Relational, Sentiment, TextFunctions}
import graft.schema.Comments
import graft.storage.Storage

/** One benchmark run in one JVM: build the session, warm up on the small
  * inputs, then run rounds of the workload's operations over the measured
  * inputs for the requested seconds, one operation at a time (a closed loop
  * with one client). A round is one pass over the operations in the seeded
  * order. In round 0 each operation's output is written for the checker
  * right after its timer stops.
  *
  * Arguments are `name=value` pairs: workload, seconds, trace (0|1), seed,
  * run_dir, data, warm (input dirs; for the pipeline they hold batch1/ and
  * batch2/), and keys (comma-separated registry keys). With
  * validate_only=1 it only checks that every key is registered.
  * The result lands in `<run_dir>/result.json`; a traced run also writes its
  * spans and listener counts to `<run_dir>/trace.json`.
  */
object Harness {

  final case class OpRec(round: Int, idx: Int, name: String, seconds: Double,
                         ok: Boolean, err: String)
  final case class RoundRec(round: Int, seconds: Double, traced: Boolean,
                            compileNs: Long, compiles: Long, gcMs: Long, jitMs: Long)

  /** Spark's local threads and shuffle partitions, as in the repo's Bench. */
  val Cpus = 4

  def main(argv: Array[String]): Unit = {
    val a = argv.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val workload = a("workload")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val runDir = new File(a("run_dir")).getAbsolutePath
    val keys = a.get("keys").filter(_.nonEmpty).map(_.split(",").toSeq).getOrElse(Nil)

    // a key the registry does not know must stop the run before any timing
    val unknown = keys.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"perfbench: unknown registry keys: ${unknown.mkString(", ")}")
      sys.exit(3)
    }
    if (a.get("validate_only").contains("1")) return
    Isolation.confine(runDir)

    val b = SparkSession.builder()
      .master(s"local[$Cpus]")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
    if (traced) b
      .config("spark.extraListeners", "perfbench.SchedulerListener")
      .config("spark.sql.queryExecutionListeners", "perfbench.PlanListener")
      .config("spark.sql.streaming.streamingQueryListeners", "perfbench.ProgressListener")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val pipeline = if (workload == "pipeline") Some(PipelineOps(spark, runDir)) else None
    // the seed fixes the key order; pipeline steps keep their flow order
    val order: Seq[Op] = pipeline.map(_.ops)
      .getOrElse(new Random(a("seed").toLong).shuffle(keys.map(k => KeyOp(spark, k))))

    // untimed warm-up on the small inputs: codegen, JIT and file-listing
    // caches fill here, so the timed rounds measure steady-state work.
    // Registry keys warm up `Cpus` at a time (their first-touch cost is
    // mostly single-threaded planning and compilation); pipeline steps
    // depend on each other and warm up in order. The warm-up order does not
    // depend on the seed, so every seed starts from the same JIT profile.
    def warm(op: Op): Unit = Try(op.run(a("warm"), None))
    if (pipeline.isDefined) order.foreach(warm)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(Cpus)
      order.sortBy(_.name).map(op => pool.submit(new Runnable { def run(): Unit = warm(op) }))
        .foreach(_.get())
      pool.shutdown()
    }
    releaseCheckpoints(spark)
    // the sentinel's own first runs pay its codegen and JIT: warm it too, so
    // start and end read the same when the load has not changed
    sentinelSec(spark)
    val setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

    val sentinelStart = sentinelSec(spark)
    val dir = a("data")
    val out = s"$runDir/out"
    new File(out).mkdirs()
    val checkErrors = mutable.LinkedHashMap.empty[String, String]
    val opRecs = mutable.ArrayBuffer.empty[OpRec]
    val roundRecs = mutable.ArrayBuffer.empty[RoundRec]
    // at least two warm rounds, so their median is not one sample; traced
    // runs alternate traced (even) and untraced (odd) rounds, so the tracing
    // overhead is measured in the same JVM, and five rounds give two warm
    // traced rounds for the exact-repeat check
    val minRounds = if (traced) 5 else 3
    val t0 = System.nanoTime()
    var r = 0
    while (r < minRounds || (System.nanoTime() - t0) / 1e9 < seconds) {
      val tracedRound = traced && r % 2 == 0
      val cg0 = (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
      val (gc0, jit0) = jvmTimes()
      var roundS = 0.0
      order.zipWithIndex.foreach { case (op, i) =>
        val tag = s"$r/$i"
        if (tracedRound) Trace.tag = tag
        var writeOutput: String => Unit = null
        val s0 = System.nanoTime()
        val res = Try { writeOutput = op.run(dir, if (tracedRound) Some(tag) else None) }
        val s = (System.nanoTime() - s0) / 1e9
        if (tracedRound) { Bus.drain(spark); Trace.tag = null }
        // untimed, and before the checkpoints it may read are released
        if (r == 0 && writeOutput != null)
          Try(writeOutput(s"$out/${op.name}")).foreach(e => checkErrors(op.name) = e)
        releaseCheckpoints(spark)
        roundS += s
        opRecs += OpRec(r, i, op.name, s, res.isEmpty, res.getOrElse(""))
        if (tracedRound && r == 2) op.profile(dir)
      }
      val (gc1, jit1) = jvmTimes()
      roundRecs += RoundRec(r, roundS, tracedRound,
        CodeGenerator.compileTime - cg0._1,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0._2, gc1 - gc0, jit1 - jit0)
      r += 1
    }
    val sentinelEnd = sentinelSec(spark)

    if (keys.nonEmpty) Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      Json.obj(SparkEntry.oracleSql.filter(kv => keys.contains(kv._1)).toSeq
        .map { case (k, v) => k -> Json.str(v) }))

    val layer =
      if (traced) Layers.compute(order, opRecs.toSeq, roundRecs.toSeq, s"$runDir/qtmp",
        dir, pipeline.map(_.storeDir(dir)))
      else Map.empty[String, Double]
    val rss = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(0.0)
    val result = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "setup_s" -> Json.num(setupS),
      "peak_rss_mb" -> Json.num(rss),
      "sentinel" -> Json.obj(Seq("start" -> Json.num(sentinelStart),
        "end" -> Json.num(sentinelEnd))),
      "ops" -> Json.arr(opRecs.toSeq.map(o => Json.obj(Seq(
        "round" -> o.round.toString, "idx" -> o.idx.toString, "name" -> Json.str(o.name),
        "s" -> Json.num(o.seconds), "ok" -> o.ok.toString, "err" -> Json.str(o.err))))),
      "rounds" -> Json.arr(roundRecs.toSeq.map(x => Json.obj(Seq(
        "round" -> x.round.toString, "s" -> Json.num(x.seconds),
        "traced" -> x.traced.toString)))),
      "check_errors" -> Json.obj(checkErrors.toSeq.map { case (k, v) => k -> Json.str(v) }),
      "layer" -> Json.obj(layer.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "repeat" -> Json.obj(Layers.repeat.toSeq.map { case (k, v) => k -> v.toString }),
      "stream_cover" -> Json.arr(Layers.streamCover.toSeq.map { case (k, opS, batchS) =>
        Json.obj(Seq("name" -> Json.str(k), "op_s" -> Json.num(opS),
          "batch_s" -> Json.num(batchS))) })))
    Files.writeString(Paths.get(s"$runDir/result.json"), result)
    if (traced) Files.writeString(Paths.get(s"$runDir/trace.json"), traceSidecar())
    spark.stop()
  }

  /** Spans and per-operation listener counts of a traced run. */
  def traceSidecar(): String = Json.obj(Seq(
    "spans" -> Json.arr(Trace.spans.toSeq.map(s => Json.obj(Seq(
      "op" -> Json.str(s.op), "name" -> Json.str(s.name), "start_ns" -> s.startNs.toString,
      "end_ns" -> s.endNs.toString)))),
    "counts" -> Json.obj(Trace.counts.asScala.toSeq.sortBy(_._1).map { case (t, c) =>
      t -> Json.obj(Seq(
        "jobs" -> c.jobs.toString, "stages" -> c.stages.toString, "tasks" -> c.tasks.toString,
        "scan_rows" -> c.scanRows.toString, "scan_bytes" -> c.scanBytes.toString,
        "shuffle_write" -> c.shuffleWrite.toString, "shuffle_read" -> c.shuffleRead.toString,
        "spill" -> c.spill.toString, "peak_exec_mem" -> c.peakExecMem.toString,
        "broadcasts" -> c.broadcasts.toString,
        "writes" -> Json.arr(c.writes.toSeq.map(w => Json.arr(Seq(Json.str(w._1), Json.num(w._2))))),
        "scanned" -> Json.arr(c.scannedPaths.toSeq.sorted.map(Json.str)),
        "progress" -> Json.arr(c.progress.toSeq.map(p => Json.obj(Seq(
          "query" -> Json.str(p.queryId), "batch_ms" -> p.batchMs.toString,
          "commit_ms" -> p.commitMs.toString, "input_rows" -> p.inputRows.toString,
          "state_rows" -> p.stateRows.toString, "state_mem" -> p.stateMem.toString,
          "late_drops" -> p.lateDrops.toString)))))) })))

  /** Run `body`; None on success, the error text on any throw. */
  def Try(body: => Unit): Option[String] =
    try { body; None }
    catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)) }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Release localCheckpoint blocks left by the operation just run (as the
    * repo's Bench does between timed regions). */
  def releaseCheckpoints(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  /** Ambient-load sentinel: one fixed compute job with no I/O, min of 3. */
  def sentinelSec(spark: SparkSession): Double =
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      noop(spark.range(0L, 50000000L, 1L, Cpus).selectExpr("bit_xor(xxhash64(id)) AS s"))
      (System.nanoTime() - t0) / 1e9
    }.min

  def jvmTimes(): (Long, Long) = (
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum,
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime)
}

/** One operation of a workload. `run` is the timed call; with a trace tag it
  * also records spans. It returns an (untimed) writer of the operation's
  * output, for the checker, given an output directory. */
trait Op {
  def name: String
  def run(dir: String, tag: Option[String]): String => Unit
  def profile(dir: String): Unit = ()
}

/** A registry key. The timer starts before `SparkEntry.queries(k)(spark,
  * dir)`: stream replays run to termination and shared indexes are built
  * inside that call. */
final case class KeyOp(spark: SparkSession, name: String) extends Op {
  private def build(dir: String): DataFrame = SparkEntry.queries(name)(spark, dir)

  def run(dir: String, tag: Option[String]): String => Unit = {
    val df = tag match {
      case None =>
        val df = build(dir)
        Harness.noop(df)
        df
      case Some(t) =>
        val df = Trace.span(t, "build")(build(dir))
        Trace.span(t, "plan")(df.queryExecution.executedPlan)
        Trace.span(t, "execute")(Harness.noop(df))
        df
    }
    // a replay's frame is its memory sink, so this reads the timed run's result
    out => df.coalesce(1).write.mode("overwrite").parquet(out)
  }
}

/** The social-media flow as three steps over two raw batches:
  *  - ingest: `Pipeline.run` on batch 1, then `Storage.writePartitionedByDay`;
  *  - incr: batch 2 enriched once (`Relational.antiDedup` against the stored
  *    ids inside `Pipeline.enrich`), then appended to the store;
  *  - views: the `Pipeline` dashboard views over the store.
  * Each round starts by overwriting the store, so rounds repeat exactly. */
final case class PipelineOps(spark: SparkSession, runDir: String) {
  private def raw(dir: String, b: Int, src: String) = spark.read.parquet(s"$dir/batch$b/$src")
  private def store(dir: String) = s"$runDir/store/${new File(dir).getName}"
  private def batch(dir: String, b: Int) =
    (raw(dir, b, "reddit"), raw(dir, b, "chan"), raw(dir, b, "youtube"))
  private def noIds = spark.range(0).select(col("id").cast("string").as("comment_id"))

  private def timed[A](tag: Option[String], name: String)(body: => A): A = tag match {
    case None => body
    case Some(t) => Trace.span(t, name)(body)
  }

  /** In a traced round, the `plan` span forces the frames' executed plans. */
  private def plan(tag: Option[String], dfs: DataFrame*): Unit =
    tag.foreach(t => Trace.span(t, "plan")(dfs.foreach(_.queryExecution.executedPlan)))

  def views(st: DataFrame): Seq[(String, DataFrame)] = Seq(
    "sentiment_share" -> Pipeline.sentimentShareByPlatform(st),
    "daily_counts" -> Pipeline.dailyCounts(st),
    "toxicity_share" -> Pipeline.toxicityShare(st))

  val ingest: Op = new Op {
    val name = "ingest"
    def run(dir: String, tag: Option[String]): String => Unit = {
      val (r, c, y) = batch(dir, 1)
      val enriched = timed(tag, "build")(Pipeline.run(r, c, y, noIds))
      plan(tag, enriched)
      timed(tag, "execute")(Storage.writePartitionedByDay(enriched, "created_ts", store(dir)))
      _ => () // the store is checked through the views step
    }

    /** Untimed per-module split of the enrichment, run once in a traced
      * round right after this step: each prefix of the flow is materialized
      * on its own and a module's cost is the difference between its prefix
      * and the one before it. */
    override def profile(dir: String): Unit = {
      def t(df: DataFrame): Double = (1 to 2).map { _ =>
        val t0 = System.nanoTime(); Harness.noop(df); (System.nanoTime() - t0) / 1e9
      }.min
      val (r, c, y) = batch(dir, 1)
      val unified = Comments.unify(Comments.fromReddit(r), Comments.fromChan(c),
        Comments.fromYoutube(y))
      val deduped = unified.dropDuplicates("platform", "comment_id")
      val cleaned = deduped.withColumn("cleaned_body",
        TextFunctions.normalizeText(TextFunctions.stripUrls(col("body"))))
      val scored = Sentiment.scoreByLexiconJoin(cleaned, "comment_id", "cleaned_body")
      val moderated = Moderation.classify(scored, "cleaned_body")
      val tu = t(unified); val td = t(deduped); val tc = t(cleaned)
      val ts = t(scored); val tm = t(moderated)
      val (r2, c2, y2) = batch(dir, 2)
      val u2 = Comments.unify(Comments.fromReddit(r2), Comments.fromChan(c2),
        Comments.fromYoutube(y2)).dropDuplicates("platform", "comment_id")
      val kept = Relational.antiDedup(u2, spark.read.parquet(store(dir)).select("comment_id"),
        Seq("comment_id"))
      val tu2 = t(u2); val tk = t(kept)
      val tokens = cleaned.select(explode(split(lower(col("cleaned_body")), "\\s+")).as("word"))
      val lex = spark.createDataFrame(Sentiment.lexicon).toDF("word", "v")
      val nTok = tokens.count()
      Layers.pipelineProfile ++= Seq(
        "schema.unify_s" -> tu, "ops.clean_s" -> (tc - td), "ops.sentiment_s" -> (ts - tc),
        "ops.moderation_s" -> (tm - ts), "ops.dedup_s" -> (tk - tu2),
        "ops.dedup_keep_ratio" -> kept.count().toDouble / math.max(u2.count(), 1L),
        "ops.sentiment_token_rows" -> nTok.toDouble,
        "ops.lexicon_hit_ratio" -> tokens.join(lex, "word").count().toDouble / math.max(nTok, 1L),
        "enrich_only_s" -> tm)
    }
  }

  val incr: Op = new Op {
    val name = "incr"
    def run(dir: String, tag: Option[String]): String => Unit = {
      val (r, c, y) = batch(dir, 2)
      val enriched = timed(tag, "build") {
        Pipeline.run(r, c, y, spark.read.parquet(store(dir)).select("comment_id"))
      }
      plan(tag, enriched)
      timed(tag, "execute")(Storage.writePartitionedByDay(enriched, "created_ts", store(dir),
        SaveMode.Append))
      _ => ()
    }
  }

  val viewsOp: Op = new Op {
    val name = "views"
    def run(dir: String, tag: Option[String]): String => Unit = {
      val vs = timed(tag, "build")(views(spark.read.parquet(store(dir))))
      plan(tag, vs.map(_._2): _*)
      timed(tag, "execute")(vs.foreach(v => Harness.noop(v._2)))
      out => writeOutput(dir, out)
    }
    private def writeOutput(dir: String, out: String): Unit = {
      val st = spark.read.parquet(store(dir))
      views(st).foreach { case (n, df) => df.coalesce(1).write.mode("overwrite").parquet(s"$out/$n") }
      st.select("platform", "comment_id", "sentiment", "sentiment_score", "is_hate_speech",
        "created_ts").coalesce(1).write.mode("overwrite").parquet(s"$out/store_rows")
      Files.writeString(Paths.get(s"$out/terms.json"), Json.obj(Seq(
        "lexicon" -> Json.obj(Sentiment.lexicon.map { case (w, v) => w -> math.round(v * 10).toString }),
        "flagged" -> Json.arr(Moderation.flaggedTerms.map(Json.str)))))
    }
  }

  val ops: Seq[Op] = Seq(ingest, incr, viewsOp)

  /** Directory of the store the measured rounds write (for layer counts). */
  def storeDir(dir: String): String = store(dir)
}

/** Minimal JSON text builders (values are already-rendered JSON). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
