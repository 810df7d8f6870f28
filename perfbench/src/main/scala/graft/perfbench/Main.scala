package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.current_timestamp
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.{SparkEntry, Tables}
import graft.ops.{Curation, Hrfco, Thresholds}
import graft.sinks.Sinks
import graft.streaming.StreamingPipeline

/** One benchmark run in a fresh JVM: set up, measure one workload for a
  * fixed time, check the outputs the JVM can check, and write a result
  * file for `run.py`, which derives the reported metrics from it.
  *
  * `--phases` lists what to measure, in order: "plain" is the untraced
  * workload; "traced" runs it again with spans around every call into a
  * graft module (the two give the tracing overhead); "drain" (stream
  * only) drains a staged backlog with Trigger.AvailableNow.
  *
  * usage: Main --workload W --input DIR --work DIR --seconds S --phases P,..
  *             --cores N --seed N --out FILE [--rate FILES_PER_S --trigger-ms MS]
  *             [--dropper PATH] [--queries q1,q2,.. --passes N]
  */
object Main {

  final case class Opts(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val opts = Opts(argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val cores = opts.int("cores")
    val spark = Tables.configured(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionReadyS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val rec = new Recorder(spark, runId = s"${opts("workload")}-${opts("seed")}")
    val res = mutable.LinkedHashMap[String, Any](
      "workload" -> opts("workload"), "cores" -> cores, "session_ready_s" -> sessionReadyS,
      "spark_version" -> spark.version)
    val w: Workload = opts("workload") match {
      case "hrfco_steady" => new Steady(spark, rec, opts)
      case "query_suite" => new Suite(spark, rec, opts)
      case other => sys.error(s"unknown workload $other")
    }
    def logged[T](what: String)(body: => T): (T, Double) = {
      val (r, s) = seconds(body)
      System.err.println(f"[perfbench] $what%s $s%.3f s")
      (r, s)
    }
    // three set-ups from empty state; the first is the warm-up's own, in
    // the cold JVM. A run that only drains (the one-core backfill) needs
    // the warm-up alone.
    val phases = opts("phases").split(",").toSeq
    val (coldSetUp, warmUpS) = logged("warm-up")(w.warmUp())
    res("warmup_s") = warmUpS
    if (phases.contains("plain"))
      res("setup_reps_s") = coldSetUp +: (2 to 1 + w.stagedSetUps).map(r => logged(s"set-up $r")(w.stage(r))._2)
    // a traced run also counts the plain phase's task time, for the
    // stream's core use under the real pipeline
    if (phases.contains("traced")) rec.enableTaskListener()
    phases.foreach { p => logged(s"phase $p")(p match {
      case "traced" =>
        rec.enablePlanListeners()
        rec.tracing = true
        res("traced") = w.measure("traced", opts.int("seconds"))
        rec.tracing = false
        res("layers") = w.layers()
        res("spans") = rec.spanRecords
      case phase => res(phase) = w.measure(phase, opts.int("seconds"))
    })}
    res("checks") = logged("checks")(w.check())._1
    res("progress") = rec.progressRecords
    res("task_ms_by_second") = rec.taskMsBySecond
    res("vm_hwm_kb") = vmHwmKb()
    JsonMapper.builder().addModule(DefaultScalaModule).build().writeValue(new File(opts("out")), res)
    logged("stop")(spark.stop())
  }

  private def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)

  def seconds[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e9)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

import Main.{seconds, noop}

/** A workload. `stage` is its set-up from empty state (the stream: a
  * fresh query through its first file; the suite: every write-once
  * artifact built from an empty store). `warmUp` is the JVM's first touch
  * of every code path a measured operation runs (JIT, codegen, artifacts);
  * it includes one set-up and returns that set-up's seconds. Main times
  * `stagedSetUps` more; a workload whose plain phase starts with a set-up
  * of its own times that one and reports it as "set_up_s". `measure`
  * runs for about `secs` seconds and returns the operations it timed;
  * `check` compares outputs with a reference. */
trait Workload {
  def warmUp(): Double
  def stage(rep: Int): Unit
  def stagedSetUps: Int
  def measure(phase: String, secs: Int): Map[String, Any]
  def check(): Seq[Map[String, Any]]
  def layers(): Map[String, Any]
}

/** The HRFCO stream, open loop: a separate dropper process moves files of
  * sf0.1-shaped events into the watched directory of `startWithDim` at a
  * fixed rate. The query runs with its defaults except a fixed
  * ProcessingTime trigger; the station dim is re-derived per micro-batch
  * from a station-history events table, as the provider contract intends. */
final class Steady(spark: SparkSession, rec: Recorder, opts: Main.Opts) extends Workload {
  private val input = opts("input")
  private val work = opts("work")
  private val trigger = Trigger.ProcessingTime(opts.int("trigger-ms").toLong)
  private val dimEvents = Tables.events(spark, s"$input/dim")
  private val dimProvider: () => DataFrame = () => Thresholds.fromEvents(dimEvents)
  /** Sink roots of the measured queries: (phase, base dir). */
  private val bases = mutable.ArrayBuffer[(String, String)]()
  private val counters = mutable.Map[String, Long]().withDefaultValue(0L)

  private def paths(base: String) = StreamingPipeline.SinkPaths(
    s"$base/archive", s"$base/timeseries", s"$base/raw", s"$base/dlq")

  private def start(base: String, trigger: Trigger): StreamingQuery = {
    new File(s"$base/src").mkdirs()
    if (rec.tracing) startTraced(base, trigger)
    else StreamingPipeline.startWithDim(spark, s"$base/src", dimProvider, paths(base),
      s"$base/ckpt", trigger)
  }

  /** The per-batch sequence of StreamingPipeline's foreachBatch, each
    * module call under its own span and materialized once, so the spans'
    * self times cover the batch. */
  private def startTraced(base: String, trigger: Trigger): StreamingQuery = {
    val p = paths(base)
    val raw = spark.readStream.schema(Tables.eventsRawSchema)
      .option("maxFilesPerTrigger", 10).parquet(s"$base/src")
    Tables.normalizeEvents(raw).writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        rec.span("streaming.batch") {
          val in = rec.span("tables.scan") { val b = batch.persist(); counters("hrfco.rows_in") += b.count(); b }
          val rawObs = rec.span("hrfco.raw") { val r = Hrfco.rawObservations(in).persist(); r.count(); r }
          rec.span("sinks.dlq") {
            Hrfco.dlqEnvelope(rawObs).drop("event_id").write.mode("append").parquet(p.dlq)
          }
          val dim = rec.span("thresholds.dim") { val d = dimProvider().persist(); d.count(); d }
          val classified = rec.span("hrfco.classify") {
            val c = Hrfco.pipelineFromRaw(rawObs, dim).persist()
            counters("hrfco.rows_classified") += c.count()
            c
          }
          // Sinks.fanout's three writes over the cached batch, one span
          // each; as in fanout, a failed write is isolated and the batch
          // goes to the DLQ
          rec.span("sinks.fanout") {
            val now = current_timestamp()
            val failed = Seq[(String, () => Unit)](
              "sinks.archive" -> (() => Sinks.writeArchive(classified, p.archive, now)),
              "sinks.timeseries" -> (() => Sinks.writeTimeseries(classified, p.timeseries, now)),
              "sinks.raw" -> (() => Sinks.writeRaw(classified, p.raw, now))
            ).flatMap { case (name, write) =>
              try { rec.span(name)(write()); None }
              catch { case scala.util.control.NonFatal(_) => Some(name.stripPrefix("sinks.")) }
            }
            counters("sinks.write_failures") += failed.size
            if (failed.nonEmpty)
              Sinks.dlqFrame(classified, s"Storage failed for: ${failed.mkString(",")}")
                .write.mode("append").parquet(p.dlq)
          }
          Seq(classified, dim, rawObs, in).foreach(_.unpersist())
        }
        ()
      }
      .start()
  }

  /** Move `file` into `dir` by copy-then-rename, so it appears whole. */
  private def drop(file: String, dir: String): Unit = {
    val tmp = Paths.get(dir).getParent.resolve("." + new File(file).getName)
    Files.copy(Paths.get(file), tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, Paths.get(dir, new File(file).getName), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Tri-store rows per flood_warning_level and DLQ rows must equal a
    * batch run of Hrfco.pipeline over the same files. The phases are
    * checked concurrently: each check is a chain of small jobs. */
  def check(): Seq[Map[String, Any]] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    bases.toSeq.map { case (phase, base) => Future(checkPhase(phase, base)) }
      .map(Await.result(_, scala.concurrent.duration.Duration.Inf))
  }

  private def checkPhase(phase: String, base: String): Map[String, Any] = {
    val p = paths(base)
    val events = Tables.normalizeEvents(
      spark.read.schema(Tables.eventsRawSchema).parquet(s"$base/src"))
    def levels(df: DataFrame): Map[String, Long] =
      df.groupBy("flood_warning_level").count().collect()
        .map(r => String.valueOf(r.get(0)) -> r.getLong(1)).toMap
    val want = levels(Hrfco.pipeline(events, dimProvider()))
    val stores = Map(
      "archive" -> levels(spark.read.schema("flood_warning_level STRING").json(p.archive)),
      "timeseries" -> levels(spark.read.parquet(p.timeseries)),
      "raw" -> levels(spark.read.parquet(p.raw)))
    val wantDlq = Hrfco.dlqEnvelope(Hrfco.rawObservations(events)).count()
    val gotDlq = spark.read.parquet(p.dlq).count()
    val rowsIn = events.count()
    val wrong = stores.values.map { got =>
      (want.keySet ++ got.keySet).toSeq.map(k => math.abs(want.getOrElse(k, 0L) - got.getOrElse(k, 0L))).sum
    }.max + math.abs(wantDlq - gotDlq)
    Map("name" -> s"stream_stores_$phase", "base" -> base, "rows_in" -> rowsIn,
      "wrong_rows" -> wrong, "ok" -> (wrong == 0),
      "levels" -> want.map { case (k, v) => k -> v }, "dlq_rows" -> gotDlq)
  }

  def layers(): Map[String, Any] = {
    val c = rec.traced
    def tasks(prefix: String) = c.filter(_._1.startsWith(prefix)).values
    Map(
      "hrfco.rows_in" -> counters("hrfco.rows_in"),
      "hrfco.rows_classified" -> counters("hrfco.rows_classified"),
      "hrfco.task_s" -> tasks("hrfco.").map(_.taskMs).sum / 1000.0,
      "hrfco.tasks" -> tasks("hrfco.").map(_.tasks).sum,
      "tables.scan_tasks" -> tasks("tables.").map(_.tasks).sum,
      "sinks.write_failures" -> counters("sinks.write_failures"),
      "shuffle_bytes" -> c.values.map(_.shuffleBytes).sum,
      "spill_bytes" -> c.values.map(_.spillBytes).sum)
  }

  def warmUp(): Double = seconds(stage(1))._2

  def stage(rep: Int): Unit = firstFile(s"$work/stage$rep").stop()

  /** The open loop's own query start is the third set-up. */
  val stagedSetUps = 1

  /** A fresh query on a fresh checkpoint through its first file (query
    * start, the first dim derivation, sink directories and first plans),
    * left running. */
  private def firstFile(base: String): StreamingQuery = {
    val q = start(base, trigger)
    drop(s"$input/warm/part-1.parquet", s"$base/src")
    q.processAllAvailable()
    q
  }

  def measure(phase: String, secs: Int): Map[String, Any] =
    if (phase == "drain") drain() else openLoop(phase)

  /** The staged backlog drained with Trigger.AvailableNow: the backfill
    * rate, at this JVM's local[N]. */
  private def drain(): Map[String, Any] = {
    val base = s"$work/drain"
    new File(s"$base/src").mkdirs()
    new File(s"$input/backlog").listFiles().foreach(f =>
      Files.createLink(Paths.get(s"$base/src", f.getName), f.toPath))
    val (q, s) = seconds { val q = start(base, Trigger.AvailableNow()); q.awaitTermination(); q }
    bases += "drain" -> base
    Map("base" -> base, "seconds" -> s, "query_run" -> q.runId.toString)
  }

  private def openLoop(phase: String): Map[String, Any] = {
    val base = s"$work/$phase"
    bases += phase -> base
    // a fresh query's first data batch pays one-time costs (sink
    // directories, first plans); take it, a set-up, before the window
    val (q, setUp) = seconds(firstFile(base))
    // drops start just after a trigger boundary (ProcessingTime triggers fire
    // at multiples of the interval), so a file's wait for its batch depends
    // on its place in the schedule, not on where the run happened to start
    val interval = opts.int("trigger-ms") / 1000.0
    val t0 = (math.floor(System.currentTimeMillis() / 1000.0 / interval) + 1) * interval + 0.1
    val dropper = new ProcessBuilder("python3", opts("dropper"), s"$input/stage_$phase", s"$base/src",
      opts("rate"), f"$t0%.3f", s"$base/drops.jsonl").inheritIO().start()
    dropper.waitFor()
    q.processAllAvailable()
    val end = System.currentTimeMillis() / 1000.0
    q.stop()
    Map("base" -> base, "t0" -> t0, "end" -> end, "query_run" -> q.runId.toString, "set_up_s" -> setUp)
  }
}

/** One client, closed loop: passes over a fixed query list in a seeded
  * shuffled order, each query built through SparkEntry and materialized
  * through the noop sink. */
final class Suite(spark: SparkSession, rec: Recorder, opts: Main.Opts) extends Workload {
  private val dir = s"${opts("input")}/tables"
  private val work = opts("work")
  private val names = opts("queries").split(",").toSeq
  private val artifacts = new File("target/graft-artifacts")
  private val artifactBacked = mutable.LinkedHashSet[String]()
  /** Seconds each set-up spent building the artifact-backed queries. */
  private val artifactBuilds = mutable.ArrayBuffer(0.0)

  /** The module family a query exercises, named after graft's ops. */
  private def family(q: String): String = q match {
    case n if n.matches("q\\d+_.*") => "relational"
    case "q_alerts" | "q_latest_per_station" => "hrfco"
    case "q_alert_rollup" => "monitoring"
    case n if n.startsWith("dedup_") => "dedup"
    case n if n.startsWith("sim_") => "similarity"
    case n if n.startsWith("text_") => "textanalysis"
    case n if n.startsWith("q_multimodal") => "multimodal"
    case "q_quantiles_sketch" => "sketches"
    case n if n.startsWith("graph_") => "graph"
    case "text_train_ready" => "curation"
    case _ => "other"
  }

  private def entries: Set[String] = Option(artifacts.list()).map(_.toSet).getOrElse(Set.empty)

  /** Every query once on an empty artifact store, so each write-once
    * artifact is built, as on the first run after a deploy; a query that
    * adds to the store is artifact-backed. The results are written to
    * parquet for the oracle check. */
  def warmUp(): Double = {
    names.foreach { q =>
      val before = entries
      val (df, build) = seconds(SparkEntry.queries(q)(spark, dir))
      val run = seconds(df.write.mode("overwrite").parquet(s"$work/results/$q"))._2
      System.err.println(f"[perfbench] first touch $q%s build $build%.3f s, run $run%.3f s")
      if ((entries -- before).nonEmpty) {
        artifactBacked += q
        artifactBuilds(0) += build
      }
    }
    artifactBuilds(0)
  }

  private def delete(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  /** Empty the artifact store and build the artifact-backed queries'
    * DataFrames, which writes every write-once artifact again. */
  val stagedSetUps = 2

  def stage(rep: Int): Unit = {
    delete(artifacts)
    artifactBuilds += seconds(artifactBacked.foreach { q =>
      val s = seconds(SparkEntry.queries(q)(spark, dir))._2
      System.err.println(f"[perfbench] set-up $rep build $q%s $s%.3f s")
    })._2
  }

  private val counters = mutable.Map[String, Long]().withDefaultValue(0L)

  /** Under tracing, the curation query runs as Curation.trainReadyStats'
    * module calls (CurationTrace); every other query as build, plan and
    * execute spans. */
  private def tracedRun(q: String): Unit = {
    if (q == "text_train_ready") {
      graft.ops.CurationTrace.trainReadyStats(Tables.documents(spark, dir), noop,
        n => body => rec.span(n)(body), (k, v) => counters(k) += v)
      return
    }
    val df = rec.span("sparkentry.build")(SparkEntry.queries(q)(spark, dir))
    val qe = df.queryExecution
    rec.span("catalyst.plan")(qe.executedPlan)
    rec.span(s"${family(q)}.exec") {
      org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe, Some("perfbench")) {
        qe.toRdd.foreach(_ => ())
      }
    }
  }

  def measure(phase: String, secs: Int): Map[String, Any] = {
    val rng = new scala.util.Random(opts("seed").toLong)
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    // a fixed number of passes, so every run times the same work: a count
    // that varied with speed would put the slower first pass into some
    // runs' medians and not others'
    (1 to opts.int("passes")).foreach { _ =>
      val order = rng.shuffle(names)
      val (times, s) = seconds {
        rec.span("suite.pass") {
          order.map { q =>
            q -> seconds {
              if (rec.tracing) rec.span(s"suite.query:$q")(tracedRun(q))
              else noop(SparkEntry.queries(q)(spark, dir))
            }._2
          }
        }
      }
      times.foreach { case (q, t) => System.err.println(f"[perfbench] $phase $q%s $t%.3f s") }
      passes += Map("seconds" -> s, "queries" -> times.map { case (q, t) => Map("q" -> q, "s" -> t) })
    }
    Map("passes" -> passes.toSeq)
  }

  /** The warm-up's results and each query's oracle SQL; run.py compares
    * the two under DuckDB, outside the timed region. */
  def check(): Seq[Map[String, Any]] = {
    Curation.trainReady(Tables.documents(spark, dir)).select("doc_id")
      .write.mode("overwrite").parquet(s"$work/results/train_ready_ids")
    val oracle = SparkEntry.oracleSql
    names.map(q => Map("name" -> s"query_$q", "query" -> q, "out" -> s"$work/results/$q",
      "oracle" -> oracle.getOrElse(q, ""), "ok" -> true))
  }

  def layers(): Map[String, Any] =
    Map(
      "artifact_backed" -> artifactBacked.toSeq,
      "artifacts.build_s" -> artifactBuilds.sorted.apply(artifactBuilds.size / 2),
      "families" -> names.map(q => q -> family(q)).toMap,
      "dedup.shuffle_bytes" -> rec.traced.filter(_._1.startsWith("dedup.")).values.map(_.shuffleBytes).sum,
      "dedup.spill_bytes" -> rec.traced.filter(_._1.startsWith("dedup.")).values.map(_.spillBytes).sum,
      "functions.codegen_fallbacks" -> rec.codegenFallbacks.get(),
      "dedup.postings_rows" -> counters("dedup.postings_rows"),
      "dedup.verified_pairs" -> counters("dedup.dropset_rows"),
      "dedup.candidate_pairs" -> rec.traced.get("dedup.dropset").map(_.joinRowsMax).getOrElse(0L),
      "shuffle_bytes" -> rec.traced.values.map(_.shuffleBytes).sum,
      "spill_bytes" -> rec.traced.values.map(_.spillBytes).sum)
}
