package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry}
import graft.etl.{EtlJob, FieldMap, Pipeline, Sinks}
import graft.sources.{EavSource, IniConfig, Tables}

/** One benchmark run of one workload in this JVM: a cold set-up, timed
  * passes over the workload's calls for a fixed time, then the untimed
  * output dumps that `run.py` checks. Writes `run.json` (and,
  * traced, `trace.json`) under `--out`.
  *
  * Usage: perfbench.Main --workload W --data DIR --warm DIR --out DIR
  *          --seconds S --trace 0|1
  */
object Main {
  val cores = 4
  /** Untraced passes per run at least. The JIT keeps speeding the passes
    * up for many passes after set-up, so the statistics use the second half
    * of these first `minPasses`: the same passes in every run, so that a
    * slow run, which fits fewer passes into its seconds, is not measured
    * earlier in the warm-up than a fast one. */
  val minPasses = 10

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val run = new Run(Workload(a("workload")), a("data"), a("warm"), a("out"),
      a("seconds").toDouble, a("trace") == "1")
    try run.all() finally run.stop()
  }
}

/** A workload: the calls one pass makes, back to back. A call is either the
  * ETL job (`etl_deid`) or a registered query, run on the data directory. */
final case class Workload(name: String, calls: Seq[String]) {
  def isEtl: Boolean = calls == Seq(Workload.etlCall)
}

object Workload {
  val etlCall = "etl_run"
  val byName: Map[String, Seq[String]] = Map(
    "etl_deid" -> Seq(etlCall),
    // iterative graph query: one lazy localCheckpoint barrier per round
    "graph_rounds" -> Seq("q244_label_propagation"))

  def apply(name: String): Workload =
    Workload(name, byName.getOrElse(name, throw new IllegalArgumentException(s"unknown workload $name")))
}

final class Run(w: Workload, data: String, warmData: String, out: String,
    seconds: Double, traced: Boolean,
    queries: Map[String, (SparkSession, String) => DataFrame] = SparkEntry.queries) {
  private def now = System.nanoTime()
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private var spark: SparkSession = _
  private val tracer = new Tracer
  private val groups = new GroupListener
  private val plans = new PlanListener
  private val errors = mutable.LinkedHashMap[String, String]()
  private var attempted, failed = 0

  def stop(): Unit = if (spark != null) spark.stop()

  private def session(): SparkSession = {
    val s = GraftSession.builder("perfbench", Some(s"local[${Main.cores}]"))
      .config("spark.sql.shuffle.partitions", Main.cores.toString)
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      // ContextCleaner's periodic GC must not land inside a timed call;
      // the run releases state itself between calls
      .config("spark.cleaner.periodicGC.interval", "1h")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  // ------------------------------------------------------------- the calls
  private def config(dir: String) =
    IniConfig.parse(new String(Files.readAllBytes(Paths.get(s"$dir/config.ini"))))
  private def projectInfo(dir: String) = Map("project_id" -> config(dir).get("redcap", "project_id").get)

  private def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def group(g: String): Unit = {
    spark.sparkContext.setJobGroup(g, g, interruptOnCancel = false)
    plans.group = g
  }

  /** One call, timed; None when it throws. A query is forced by writing all
    * of its columns to the noop sink; the ETL job writes its envelopes. */
  private def call(name: String, dir: String, tag: String, trace: Boolean): Option[Double] = {
    val id = s"$name#$tag"
    def phase[T](p: String)(body: => T): T = {
      group(s"$id#$p")
      if (trace) try tracer.span(id, p)(body) finally drain() else body
    }
    def body(): Unit =
      if (w.isEtl) phase("execute")(EtlJob.run(spark, config(dir), projectInfo(dir)))
      else {
        val df = phase("operators.build")(queries(name)(spark, dir))
        if (trace) phase("plans.optimize")(df.queryExecution.executedPlan)
        phase("execute")(force(df))
      }
    val t0 = now
    try {
      if (trace) tracer.span(id, "query")(body()) else body()
      Some((now - t0) / 1e9)
    } catch {
      case NonFatal(e) =>
        errors.getOrElseUpdate(name, e.toString.take(300))
        None
    } finally group("-")
  }

  // --------------------------------------------- release between the calls
  private var purged, barrierBytes = 0L
  private var releaseS = 0.0

  /** Untimed: record what the last call left in the block store and on the
    * heap, then drop its cached frames and checkpoint blocks, so no call
    * pays for an earlier one. */
  private def release(trace: Boolean, id: String): Unit = {
    val sc = spark.sparkContext
    val held = sc.getRDDStorageInfo
    barrierBytes += held.map(i => i.memSize + i.diskSize).sum
    purged += held.length
    if (measuring) sampleOldGen()
    def body(): Unit = {
      sc.getPersistentRDDs.valuesIterator.foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
      org.apache.spark.graft.BlockPurge.purgeRddBlocks(sc)
    }
    val t0 = now
    if (trace) tracer.span(id, "blockpurge.release")(body()) else body()
    releaseS += (now - t0) / 1e9
  }

  // --------------------------------------------------------------- passes
  /** `cpuS`: process CPU seconds spent inside the pass's calls, without the
    * release (and its GC) after each call. */
  private final case class Pass(traced: Boolean, cpuS: Double, times: Map[String, Double],
      fetches: Long, purged: Long, barrierBytes: Long, releaseS: Double) {
    def wallS: Double = times.values.sum
  }
  private val passes = mutable.ArrayBuffer[Pass]()

  private def pass(trace: Boolean): Unit = {
    System.gc()
    val k = passes.size
    purged = 0; barrierBytes = 0; releaseS = 0
    val fetch0 = EavSource.chunkFetches.get()
    var cpuS = 0.0
    if (trace && w.isEtl) etlPrefixes(s"etl_prefix#$k")
    val times = w.calls.flatMap { c =>
      attempted += 1
      val cpu0 = os.getProcessCpuTime
      val t = call(c, data, k.toString, trace)
      cpuS += (os.getProcessCpuTime - cpu0) / 1e9
      if (t.isEmpty) failed += 1
      release(trace, s"$c#$k")
      t.map(c -> _)
    }.toMap
    System.err.println(s"[perfbench] pass $k${if (trace) " (traced)" else ""}: " +
      times.toSeq.sorted.map { case (q, t) => f"$q=$t%.3f" }.mkString(" ") + f" cpu_s=$cpuS%.2f")
    passes += Pass(trace, cpuS, times,
      EavSource.chunkFetches.get() - fetch0, purged, barrierBytes, releaseS)
  }

  /** Traced ETL only: each prefix of the pipeline materialized on its own,
    * one after the other (each span holds its whole prefix). */
  private def etlPrefixes(id: String): Unit = {
    val cfg = config(data)
    def step[T](name: String)(body: => T): T = {
      group(s"$id#$name")
      try tracer.span(id, name)(body) finally { drain(); group("-") }
    }
    val eav = step("sources.eav_extract") { val e = EtlJob.readEav(spark, cfg); force(e); e }
    val fm = step("etl.fieldmap_load") {
      val f = FieldMap.load(spark, cfg.resolved("default", "field_map_file").get); force(f); f
    }
    val result = step("etl.transforms") {
      val r = Pipeline.run(eav, fm, EtlJob.transformsFromConfig(spark, cfg, fm))
      r.transformRecords.foreach(force); r.transformErrors.foreach(force); r
    }
    step("etl.phi_filter")(force(result.kept))
    step("etl.envelope_write") {
      Sinks.envelopes(result.kept, 50000, Seq("redcap_project_id" -> projectInfo(data).get("project_id")))
        .write.mode("overwrite").text(s"$out/prefix_envelopes")
    }
  }

  // ------------------------------------------------------------ old gen
  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getName.contains("Old Gen"))
  private var peakOldMb = 0.0
  private var measuring = false

  /** Untimed: old-generation occupancy after a full GC, i.e. what the last
    * call still holds before it is released. */
  private def sampleOldGen(): Unit = {
    System.gc()
    peakOldMb = math.max(peakOldMb, oldGen.map(_.getUsage.getUsed).sum / 1048576.0)
  }

  // ------------------------------------------------------------------ run
  def all(): Unit = {
    Files.createDirectories(Paths.get(out))
    // set-up, cold: the JVM's class loading and first JIT/codegen included
    val t0 = now
    spark = session()
    val t1 = now
    w.calls.foreach { c =>
      call(c, warmData, "warm", trace = false)
      release(trace = false, "warm")
    }
    val t2 = now
    val setup = Seq((t1 - t0) / 1e9, (t2 - t1) / 1e9)
    System.err.println(f"[perfbench] setup: session ${setup(0)}%.2f s, warm-up ${setup(1)}%.2f s")
    errors.clear()
    val start = now
    def elapsed = (now - start) / 1e9
    measuring = true
    // passes run until both `seconds` and `Main.minPasses` are reached.
    // Traced: after two untraced passes, untraced and traced passes
    // alternate, so the run states its own tracing overhead
    if (!traced) while (passes.size < Main.minPasses || elapsed < seconds) pass(trace = false)
    else {
      pass(trace = false); pass(trace = false)
      while (passes.size < 6 || elapsed < seconds) {
        pass(trace = false)
        spark.sparkContext.addSparkListener(groups)
        spark.listenerManager.register(plans)
        pass(trace = true)
        spark.sparkContext.removeSparkListener(groups)
        spark.listenerManager.unregister(plans)
      }
    }
    measuring = false
    writeRun(setup, dumpOutputs())
  }

  /** Untimed: the outputs `run.py` checks. Queries: each result as parquet
    * plus its oracle SQL. ETL: facts read back from what the last pass
    * wrote, which a correct run must match. */
  private def dumpOutputs(): Map[String, Any] =
    if (w.isEtl) {
      try etlFacts() catch {
        case NonFatal(e) => errors.getOrElseUpdate("etl_check", e.toString.take(300)); Map.empty
      }
    } else {
      val oracle = SparkEntry.oracleSql
      val dumped = w.calls.filterNot(errors.contains).flatMap { q =>
        try {
          queries(q)(spark, data).write.mode("overwrite").parquet(s"$out/results/$q")
          release(trace = false, "dump")
          oracle.get(q).map(q -> _)
        } catch { case NonFatal(e) => errors.getOrElseUpdate(q, e.toString.take(300)); None }
      }
      Map("oracle_sql" -> dumped.toMap)
    }

  private def etlFacts(): Map[String, Any] = {
    val cfg = config(data)
    val outDir = cfg.resolved("default", "out_dir").get
    val pid = projectInfo(data)("project_id")
    val fm = FieldMap.normalize(FieldMap.load(spark, cfg.resolved("default", "field_map_file").get))
      .select(col("field_name"), col("status"))
    val recordSchema = "struct<redcap_records: array<struct<field_name: string, namespace: string>>>"
    def records(dir: String) = spark.read.text(dir)
      .select(explode(from_json(col("value"), recordSchema, Map.empty[String, String])("redcap_records")).as("r"))
      .select("r.*")
    val kind = when(col("field_name") === "redcap_data_access_group", "dag")
      .when(col("field_name").endsWith("_complete"), "complete")
      .otherwise(coalesce(col("status"), lit("")))
    val kept = records(s"$outDir/envelopes")
    val byStatus = kept.join(fm, Seq("field_name"), "left").groupBy(kind.as("k")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val byNamespace = records(s"$outDir/transform_envelopes").groupBy("namespace").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val env = spark.read.text(s"$outDir/envelopes").select(
      (col("value").startsWith("{\"chunk_number\":") &&
        col("value").contains(s""""redcap_project_id":"$pid"""") &&
        col("value").contains("\"redcap_project_type\":\"benchmark\"") &&
        col("value").contains("\"extraction_run_datetime\":")).as("ok"))
      .agg(count(lit(1)), sum(when(col("ok"), 1).otherwise(0))).head()
    // the error channel is not written by the job: rebuild the pipeline
    // and count it (only the extract and date-shift branch runs)
    val eav = EtlJob.readEav(spark, cfg)
    val fmRaw = FieldMap.load(spark, cfg.resolved("default", "field_map_file").get)
    val errs = Pipeline.run(eav, fmRaw, EtlJob.transformsFromConfig(spark, cfg, fmRaw)).transformErrors
    val header = new String(Files.readAllBytes(Paths.get(s"$outDir/header.json")))
    Map(
      "input_rows" -> eav.count(),
      "kept_rows" -> byStatus.values.sum,
      "kept_by_status" -> byStatus,
      "date_errors" -> errs.fold(0L)(_.count()),
      "calc_records" -> byNamespace.getOrElse("CalcVars", 0L),
      "secondary_records" -> byNamespace.getOrElse("SecondaryID", 0L),
      "envelopes" -> env.getLong(0),
      "envelopes_with_metadata" -> env.getLong(1),
      "header_ok" -> header.startsWith("{\"chunk_number\":0,"))
  }

  // -------------------------------------------------------------- report
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Per-layer metrics: medians over the traced passes of per-pass sums. */
  private def layers(facts: Map[String, Any]): Map[String, Double] = {
    val tp = passes.zipWithIndex.filter(_._1.traced).toSeq
    def perPass(f: (Pass, Int) => Double): Double = median(tp.map { case (p, k) => f(p, k) })
    def spanS(name: String, k: Int): Double =
      tracer.spans.filter(s => s.name == name && s.trace.split('#')(1) == k.toString).map(_.seconds).sum
    // job groups are "<call>#<pass>#<phase>"; the ETL prefixes are not calls
    def inPass(k: Int, phase: String => Boolean)(g: String): Boolean = {
      val p = g.split('#')
      p.length == 3 && p(0) != "etl_prefix" && p(1) == k.toString && phase(p(2))
    }
    def counters(k: Int, phase: String => Boolean = _ => true): Counters = groups.total(inPass(k, phase))
    def fact(k: String): Double = facts.get(k).fold(0.0)(_.toString.toDouble)
    val m = mutable.LinkedHashMap[String, Double]()
    m("sources.eav_chunk_fetches") = perPass((p, _) => p.fetches.toDouble)
    m("sources.eav_extract_s") = perPass((_, k) => spanS("sources.eav_extract", k))
    m("sources.input_rows") = perPass((_, k) => counters(k, _ == "execute").inputRows.toDouble)
    m("sources.input_bytes") = perPass((_, k) => counters(k, _ == "execute").inputBytes.toDouble)
    for (s <- Seq("fieldmap_load", "transforms", "phi_filter", "envelope_write"))
      m(s"etl.${s}_s") = perPass((_, k) => spanS(s"etl.$s", k))
    m("etl.kept_rows") = fact("kept_rows")
    m("etl.dropped_rows") = if (w.isEtl) fact("input_rows") - fact("kept_rows") else 0.0
    m("etl.date_errors") = fact("date_errors")
    m("etl.bytes_written") = if (w.isEtl) perPass((_, k) => counters(k, _ == "execute").outputBytes.toDouble) else 0.0
    m("operators.build_s") = perPass((_, k) => spanS("operators.build", k))
    m("operators.build_jobs") = perPass((_, k) => counters(k, _ == "operators.build").jobs.toDouble)
    for (q <- Workload.byName.values.flatten.toSeq.distinct.filterNot(_ == Workload.etlCall))
      m(s"operators.${q}_s") = perPass((p, _) => p.times.getOrElse(q, 0.0))
    m("plans.optimize_s") = perPass((_, k) => spanS("plans.optimize", k))
    for (kind <- PlanListener.kinds)
      m(s"plans.$kind") = perPass((_, k) => plans.total(inPass(k, _ == "execute"))(kind).toDouble)
    m ++= kernels()
    m("blockpurge.rdds_purged") = perPass((p, _) => p.purged.toDouble)
    m("blockpurge.barrier_bytes") = perPass((p, _) => p.barrierBytes.toDouble)
    m("blockpurge.release_s") = perPass((p, _) => p.releaseS)
    m("spark.jobs") = perPass((_, k) => counters(k).jobs.toDouble)
    m("spark.stages") = perPass((_, k) => counters(k).stages.toDouble)
    m("spark.tasks") = perPass((_, k) => counters(k).tasks.toDouble)
    m("spark.job_wait_s") = perPass((_, k) => counters(k).jobWaitS)
    m("spark.busy_frac") = perPass((p, k) => counters(k).taskRunS / (p.wallS * Main.cores))
    m("spark.task_cpu_s") = perPass((_, k) => counters(k).taskCpuS)
    m("spark.gc_s") = perPass((_, k) => counters(k).gcS)
    m("spark.shuffle_write_bytes") = perPass((_, k) => counters(k).shuffleWrite.toDouble)
    m("spark.shuffle_read_bytes") = perPass((_, k) => counters(k).shuffleRead.toDouble)
    m("spark.shuffle_fetch_wait_s") = perPass((_, k) => counters(k).fetchWaitS)
    m("spark.spill_bytes") = perPass((_, k) => counters(k).spill.toDouble)
    m("spark.peak_exec_mem_mb") = perPass((_, k) => counters(k).peakExecMem / 1048576.0)
    m.toMap
  }

  /** Rows per second of each `functions/` kernel's `apply`, over this
    * workload's own input column (median of three noop writes). */
  private def kernels(): Map[String, Double] = {
    import graft.functions._
    val base =
      if (w.isEtl) spark.read.format("graft-eav").option("path", config(data).resolved("redcap", "eav_source").get)
        .load().select(col("value").as("s"), xxhash64(col("record_id"), col("field_name")).as("k"))
      else Tables.lineitem(spark, data)
        .select(concat_ws(" ", col("l_partkey"), col("l_suppkey")).as("s"), col("l_orderkey").as("k"))
    // the column repeated to about 50k rows, so a kernel's time is not
    // only the per-job floor
    val reps = math.max(1L, 50000L / math.max(1L, base.count()))
    val frame = base.crossJoin(spark.range(reps).toDF("r"))
      .select(col("s"), abs((col("k") + col("r")) % 1000000L).as("k"),
        array_sort(GramHashes(col("s"), 3)).as("g")).localCheckpoint()
    val rows = frame.count().toDouble
    val s = col("s"); val k = col("k"); val s24 = substring(s, 1, 24)
    val exprs: Seq[(String, DataFrame => DataFrame)] = Seq(
      "GramHashes" -> (_.select(GramHashes(s, 5))),
      "RollingFingerprint" -> (_.select(RollingFingerprint(s))),
      "Md5Low64" -> (_.select(Md5Low64(s))),
      "JaroWinkler" -> (_.select(JaroWinkler(s24, reverse(s24)))),
      "SortedIntersectCount" -> (_.select(SortedIntersectCount(col("g"), col("g")))),
      "StripAccents" -> (_.select(StripAccents(s))),
      "HeavyHitters" -> (_.agg(HeavyHitters(s, 64))),
      "BrandesTerm" -> (_.select(BrandesTerm(k + 1, k % 1000, (k % 7) + 1))))
    val out = exprs.map { case (n, f) =>
      val ts = (1 to 3).map { _ => val t0 = now; force(f(frame)); (now - t0) / 1e9 }
      s"functions.${n}_rows_per_s" -> rows / median(ts)
    }.toMap
    frame.unpersist(blocking = true)
    out
  }

  private def writeRun(setup: Seq[Double], facts: Map[String, Any]): Unit = {
    drain()
    // traced runs: traced passes against the untraced passes between them
    val traceOverhead =
      if (traced) median(passes.filter(_.traced).map(_.wallS).toSeq) -
        median(passes.drop(2).filterNot(_.traced).map(_.wallS).toSeq)
      else 0.0
    val run = Map(
      "workload" -> w.name,
      "setup" -> setup,
      "min_passes" -> Main.minPasses,
      "passes" -> passes.map(p => Map("traced" -> p.traced, "cpu_s" -> p.cpuS, "times" -> p.times)).toSeq,
      "peak_heap_mb" -> peakOldMb,
      "attempted" -> attempted,
      "failed" -> failed,
      "errors" -> errors.toMap,
      "facts" -> facts,
      "layers" -> (if (traced) layers(facts) else Map.empty[String, Double]),
      "trace_overhead_s" -> traceOverhead)
    Files.writeString(Paths.get(s"$out/run.json"), Json(run))
    if (traced) {
      val t0 = tracer.spans.map(_.start).minOption.getOrElse(0L)
      Files.writeString(Paths.get(s"$out/trace.json"), Json(Map(
        "spans" -> tracer.spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "trace" -> s.trace,
          "name" -> s.name, "start_s" -> (s.start - t0) / 1e9, "end_s" -> (s.end - t0) / 1e9)).toSeq,
        "self_s" -> tracer.selfTimes,
        "trace_overhead_s" -> traceOverhead)))
    }
  }
}

/** Minimal JSON writer for maps, sequences, strings, numbers and booleans. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: collection.Map[_, _] => m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
