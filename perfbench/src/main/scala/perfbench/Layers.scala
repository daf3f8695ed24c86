package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import Harness.{OpRec, RoundRec}

/** Per-layer metrics of a traced run, from the spans the harness recorded
  * around each call and the counts Spark's listeners reported. Round 0 is the
  * first round over the measured inputs (for graph_index: the cold round that
  * builds the shared indexes); rounds 2, 4, ... are the warm traced rounds and
  * 1, 3, ... the warm untraced ones. Counts are per round, medians over the
  * warm traced rounds. */
object Layers {
  /** The shared indexes the registry workload's keys build. */
  val IndexFamilies = Seq("edge_index", "lm_scores")
  /** Counts whose exact repeat between the two last warm traced rounds is
    * reported: none of them depends on machine load. */
  val RepeatCounts = Seq("spark.jobs", "spark.stages", "spark.tasks", "tables.scan_rows",
    "exchange.shuffle_write_bytes", "exchange.shuffle_read_bytes", "stream.batches",
    "stream.input_rows", "stream.state_rows", "stream.late_drops")

  val pipelineProfile = mutable.Map.empty[String, Double]
  val repeat = mutable.LinkedHashMap.empty[String, Boolean]
  /** (replay key, its timed seconds, sum of its micro-batch durations). */
  val streamCover = mutable.ArrayBuffer.empty[(String, Double, Double)]

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def compute(order: Seq[Op], ops: Seq[OpRec], rounds: Seq[RoundRec], tmp: String,
              dataDir: String, storeDir: Option[String]): Map[String, Double] = {
    val warmT = rounds.filter(r => r.traced && r.round > 0).map(_.round)
    val warmU = rounds.filter(r => !r.traced && r.round > 0).map(_.round)
    val warm = rounds.filter(_.round > 0)
    def countsOf(r: Int): Seq[(Int, OpCounts)] =
      order.indices.flatMap(i => Option(Trace.counts.get(s"$r/$i")).map(i -> _))
    def roundSum(r: Int)(f: OpCounts => Double): Double = countsOf(r).map(c => f(c._2)).sum
    def perRound(f: Int => Double): Double = median(warmT.map(f))
    def sumOf(f: OpCounts => Double): Double = perRound(r => roundSum(r)(f))

    val m = mutable.LinkedHashMap.empty[String, Double]
    // spans: per-op means over warm traced rounds
    val spans = Trace.spans.toSeq.filter(s => warmT.contains(s.op.takeWhile(_ != '/').toInt))
    def spanMs(name: String): Double = {
      val per = spans.filter(_.name == name).groupBy(_.op).values
        .map(_.map(s => (s.endNs - s.startNs) / 1e6).sum).toSeq
      mean(per)
    }
    val opMs = ops.filter(o => warmT.contains(o.round)).map { o =>
      o.seconds * 1000 - spans.filter(_.op == s"${o.round}/${o.idx}")
        .map(s => (s.endNs - s.startNs) / 1e6).sum
    }
    // the build and plan spans have no children, so they are their own self time
    m("registry.build_ms") = spanMs("build")
    m("registry.plan_ms") = spanMs("plan")
    m("self.execute_ms") = spanMs("execute")
    m("self.harness_ms") = mean(opMs)

    m("codegen.compile_ms") = median(warm.map(_.compileNs / 1e6))
    m("codegen.classes") = median(warm.map(_.compiles.toDouble))
    m("jvm.gc_ms") = median(warm.map(_.gcMs.toDouble))
    m("jvm.jit_ms") = median(warm.map(_.jitMs.toDouble))

    m("spark.jobs") = sumOf(_.jobs)
    m("spark.stages") = sumOf(_.stages)
    m("spark.tasks") = sumOf(_.tasks)
    m("tables.scan_rows") = sumOf(_.scanRows)
    m("tables.scan_bytes") = sumOf(_.scanBytes)
    m("exchange.shuffle_write_bytes") = sumOf(_.shuffleWrite)
    m("exchange.shuffle_read_bytes") = sumOf(_.shuffleRead)
    m("exchange.spill_bytes") = sumOf(_.spill)
    m("exchange.peak_exec_mem_mb") =
      perRound(r => countsOf(r).map(_._2.peakExecMem.toDouble).foldLeft(0.0)(math.max) / 1048576)
    m("exchange.broadcast_count") = sumOf(_.broadcasts)

    // shared indexes: Materialize.once keys are "<indexDir>#<input fingerprint>"
    val indexDirs = Isolation.materializeKeys.map(_.takeWhile(_ != '#'))
      .filter(_.startsWith(tmp)).distinct
    def norm(p: String) = p.stripPrefix("file:").replaceAll("^/+", "/")
    def indexOf(p: String) = indexDirs.find(d => norm(p) == d || norm(p).startsWith(d + "/"))
    def familyOf(d: String) = d.stripPrefix(tmp + "/").takeWhile(_ != '/')
    def builds(r: Int) = countsOf(r).flatMap(_._2.writes.flatMap { case (p, s) => indexOf(p).map(_ -> s) })
    def reuses(r: Int) = countsOf(r).map { case (_, c) =>
      val built = c.writes.flatMap(w => indexOf(w._1)).toSet
      (c.scannedPaths.flatMap(indexOf).toSet -- built).size
    }.sum
    val cold = builds(0)
    m("materialize.builds") = cold.size
    m("materialize.reuses") = reuses(0)
    m("materialize.build_s") = cold.map(_._2).sum
    IndexFamilies.foreach { f =>
      m(s"materialize.build_s.$f") = cold.filter(b => familyOf(b._1) == f).map(_._2).sum
    }
    m("materialize.warm_builds") = perRound(r => builds(r).size)
    m("materialize.warm_reuses") = perRound(r => reuses(r))

    def progress(r: Int) = countsOf(r).flatMap(_._2.progress)
    def perQueryMax(r: Int)(f: StreamProgressRec => Long) =
      progress(r).groupBy(_.queryId).values.map(ps => ps.map(f).max.toDouble).sum
    m("stream.batches") = perRound(r => progress(r).size)
    m("stream.input_rows") = perRound(r => progress(r).map(_.inputRows).sum)
    m("stream.batch_ms_p50") = perRound(r => median(progress(r).map(_.batchMs.toDouble)))
    m("stream.commit_ms") = perRound(r => progress(r).map(_.commitMs).sum)
    m("stream.state_rows") = perRound(r => perQueryMax(r)(_.stateRows))
    m("stream.state_mem_bytes") = perRound(r => perQueryMax(r)(_.stateMem))
    m("stream.late_drops") = perRound(r => progress(r).map(_.lateDrops).sum)
    ops.filter(o => warmT.contains(o.round)).foreach { o =>
      val ps = Option(Trace.counts.get(s"${o.round}/${o.idx}")).toSeq.flatMap(_.progress)
      if (ps.nonEmpty) streamCover += ((o.name, o.seconds, ps.map(_.batchMs).sum / 1000.0))
    }

    // pipeline modules (zero on the registry workloads)
    def opS(name: String) = median(ops.filter(o => o.name == name && o.round > 0).map(_.seconds))
    Seq("schema.unify_s", "ops.clean_s", "ops.sentiment_s", "ops.sentiment_token_rows",
      "ops.lexicon_hit_ratio", "ops.moderation_s", "ops.dedup_s", "ops.dedup_keep_ratio")
      .foreach(k => m(k) = pipelineProfile.getOrElse(k, 0.0))
    m("pipeline.views_s") = opS("views")
    m("storage.write_s") = pipelineProfile.get("enrich_only_s").map(opS("ingest") - _).getOrElse(0.0)
    val storeFiles = storeDir.toSeq.flatMap(d => files(new File(d))).filter(_.getName.endsWith(".parquet"))
    m("storage.files_written") = storeFiles.size
    val inputBytes = storeDir.toSeq.flatMap(_ => files(new File(dataDir))).map(_.length).sum
    m("storage.bytes_written_per_input_byte") =
      if (inputBytes == 0) 0.0 else storeFiles.map(_.length).sum.toDouble / inputBytes

    // tracing overhead: warm traced rounds against warm untraced ones
    val tT = median(rounds.filter(r => warmT.contains(r.round)).map(_.seconds))
    val tU = median(rounds.filter(r => warmU.contains(r.round)).map(_.seconds))
    m("trace.overhead_s") = tT - tU
    m("trace.overhead_pct") = if (tU > 0) (tT - tU) / tU * 100 else 0.0

    // exact repeat of each count between the two last warm traced rounds
    val last2 = warmT.takeRight(2)
    if (last2.size == 2) RepeatCounts.foreach { k =>
      val vs = last2.map(r => valueIn(k, r, roundSum, progress, perQueryMax))
      repeat(k) = vs(0) == vs(1)
      m(s"repeat.$k") = if (vs(0) == vs(1)) 1.0 else 0.0
    }
    m("trace.counts_repeated") = repeat.values.count(identity)
    m.toMap
  }

  private def valueIn(k: String, r: Int, roundSum: Int => (OpCounts => Double) => Double,
                      progress: Int => Seq[StreamProgressRec],
                      perQueryMax: Int => (StreamProgressRec => Long) => Double): Double = k match {
    case "spark.jobs" => roundSum(r)(_.jobs)
    case "spark.stages" => roundSum(r)(_.stages)
    case "spark.tasks" => roundSum(r)(_.tasks)
    case "tables.scan_rows" => roundSum(r)(_.scanRows)
    case "exchange.shuffle_write_bytes" => roundSum(r)(_.shuffleWrite)
    case "exchange.shuffle_read_bytes" => roundSum(r)(_.shuffleRead)
    case "stream.batches" => progress(r).size
    case "stream.input_rows" => progress(r).map(_.inputRows).sum
    case "stream.state_rows" => perQueryMax(r)(_.stateRows)
    case "stream.late_drops" => progress(r).map(_.lateDrops).sum
  }

  private def files(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files) else Seq(f)
}

/** Keeps a run's scratch files inside its run directory. graft pins its
  * scratch root (`SparkEntry.TMP`) to a fixed absolute path; it is pointed
  * into the run directory before any query runs, so runs never share shared
  * indexes (their builds are guarded only within one JVM) or leave them
  * behind. Stream replay checkpoints stay where graft puts them. */
object Isolation {
  private lazy val unsafe: sun.misc.Unsafe = {
    val f = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
    f.setAccessible(true)
    f.get(null).asInstanceOf[sun.misc.Unsafe]
  }

  private def staticField(cls: String, name: String) = {
    val c = Class.forName(cls, true, getClass.getClassLoader)
    c.getDeclaredField(name)
  }

  private def putStatic(cls: String, name: String, v: AnyRef): Unit = {
    val f = staticField(cls, name)
    unsafe.putObjectVolatile(unsafe.staticFieldBase(f), unsafe.staticFieldOffset(f), v)
  }

  def confine(runDir: String): Unit = {
    putStatic("graft.SparkEntry$", "TMP", s"$runDir/qtmp")
    val tmp = graft.SparkEntry.getClass.getMethod("TMP").invoke(graft.SparkEntry)
    require(tmp == s"$runDir/qtmp", s"scratch root was not redirected: $tmp")
  }

  /** Keys of the shared-index guard (`Materialize.once`). */
  def materializeKeys: Seq[String] = {
    val f = staticField("graft.storage.Materialize$", "done")
    f.setAccessible(true)
    f.get(null).asInstanceOf[java.util.concurrent.ConcurrentHashMap[String, _]].keySet.asScala.toSeq
  }
}

/** Waits until Spark's listener bus has delivered every queued event, so a
  * traced operation's counts are complete before the next one starts. */
object Bus {
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}
