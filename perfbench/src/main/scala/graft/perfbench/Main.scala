package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.util.Try

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.dsp.{Kernels, Signal, Signal32}
import graft.dsp.Signal.FastPad
import graft.model.Synthetic

/** Benchmark main. One closed-loop client runs one workload on
  * `local[<cores>]`:
  *
  *  1. set-up: generate the inputs from the seed, then the workload's
  *     untimed warm-up passes;
  *  2. timed passes until they add up to `--seconds` (at least two), each
  *     followed by an output check outside its timing;
  *  3. with `--trace 1`, one more pass with spans around every layer call
  *     and Spark's listeners attached, then the DSP kernel probes.
  *
  * Prints one `{"metric", "value", "unit"}` line per metric, the path of
  * the full result file (or why it could not be written), and last the
  * summary line `{"correct", "attempted", "failed", "metrics"}`.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *             --results DIR --expected FILE [--smoke 1] [--corrupt 1]
  */
object Main {

  final case class Metric(name: String, value: Double, unit: String)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.length)

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** JSON text of maps, sequences, options (None is null) and scalars; use
    * a ListMap where key order matters. */
  def json(v: Any): String = mapper.writeValueAsString(v)

  def metricsJson(ms: Seq[Metric]): ListMap[String, Any] =
    ListMap(ms.map(m => m.name -> ListMap("value" -> m.value, "unit" -> m.unit)): _*)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def flag(k: String) = a.get(k).contains("1")
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = flag("trace")
    val smoke = flag("smoke")
    val work = a("work")
    val cores = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val spark = session(work)
    val sessionS = (System.nanoTime() - t0) / 1e9

    try {
      val ctx = Ctx(spark, work, seed, smoke, flag("corrupt"), a("expected"))
      val w = Workloads(workload, ctx)
      val failures = ArrayBuffer.empty[String]
      var attempted = 0

      // set-up: input generation, then the warm-up passes;
      // setup_s = session start + both
      def secondsOf(body: => Unit): Double = {
        val t = System.nanoTime()
        body
        (System.nanoTime() - t) / 1e9
      }
      val genS = secondsOf(w.prepare())
      val warmS = (0 until w.warmPasses).map { _ =>
        secondsOf(w.pass().foreach(op => op.error.foreach(e => throw new IllegalStateException(e))))
      }
      val setupS = sessionS + genS + warmS.sum

      // timed closed loop: one client, next pass only after the last ends
      val passS = ArrayBuffer.empty[Double]
      val ops = ArrayBuffer.empty[Op]
      var i = 0
      while (i < 2 || passS.sum < seconds) {
        val t = System.nanoTime()
        val done = w.pass()
        passS += (System.nanoTime() - t) / 1e9
        ops ++= done
        done.foreach(op => op.error.foreach(failures += _))
        val checks = w.checkPass(i)
        attempted += done.size + checks.size
        checks.flatten.foreach(failures += _)
        i += 1
      }

      val wallS = median(passS.toSeq)
      // one figure per operation (its median over the timed passes), so the
      // number of passes that fit in `--seconds` does not shift the median
      // from one operation to the next
      val opS = ops.groupBy(_.name).values.map(os => median(os.map(_.wallS).toSeq)).toSeq
      val endToEnd = Seq(
        Metric("setup_s", setupS, "s"),
        Metric("wall_s", wallS, "s"),
        Metric("op_p50_s", median(opS), "s"),
        Metric("op_geomean_s", geomean(opS), "s"))
      val info = Map[String, Any](
        "throughput_msamples_per_s" -> (if (w.samplesPerPass > 0) w.samplesPerPass / 1e6 / wallS else None),
        "fail_ratio" -> failures.size.toDouble / math.max(attempted, 1),
        "session_start_s" -> sessionS, "generate_s" -> genS, "warm_pass_s" -> warmS,
        "pass_s" -> passS.toSeq,
        "ops" -> ops.map(o => Map("name" -> o.name, "wall_s" -> o.wallS)).toSeq)

      val (perLayer, spansJson) =
        if (!trace) (Seq.empty[Metric], None)
        else {
          val (m, js, traceChecks) = traced(spark, w, wallS, cores, seed)
          attempted += traceChecks.size
          traceChecks.flatten.foreach(failures += _)
          (m, Some(js))
        }

      val metrics = if (trace) perLayer else endToEnd
      failures.foreach(f => System.err.println(s"[perfbench] check failed: $f"))
      metrics.foreach(m => println(json(ListMap("metric" -> m.name, "value" -> m.value, "unit" -> m.unit))))

      val stem = s"${a("results")}/$workload-seed$seed-trace${if (trace) 1 else 0}"
      val result = json(ListMap("workload" -> workload, "seed" -> seed, "seconds" -> seconds,
        "trace" -> trace, "cores" -> cores, "sizes" -> w.sizes,
        "correct" -> failures.isEmpty, "attempted" -> attempted, "failed" -> failures.size,
        "failures" -> failures.toSeq, "metrics" -> metricsJson(endToEnd ++ perLayer),
        "info" -> info))
      val resultWrite = write(s"$stem.json", result)
      println(json(ListMap("seed" -> seed, "result_file" -> resultWrite.toOption,
        "result_error" -> resultWrite.left.toOption)))
      spansJson.foreach { js =>
        val spanWrite = write(s"$stem-spans.json", js)
        println(json(ListMap("span_file" -> spanWrite.toOption,
          "span_error" -> spanWrite.left.toOption)))
      }
      println(json(ListMap("correct" -> failures.isEmpty, "attempted" -> attempted,
        "failed" -> failures.size, "metrics" -> metricsJson(metrics))))
    } finally spark.stop()
  }

  /** The benchmark's session: `local[<cores>]`, the registry bench's SQL
    * settings, scratch and warehouse directories under `work`. */
  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.showConsoleProgress", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4096")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Writes `body` to `path` (any stale copy is removed first); Left holds
    * the error. */
  def write(path: String, body: String): Either[String, String] = Try {
    val p = Paths.get(path)
    Files.deleteIfExists(p)
    Files.createDirectories(p.getParent)
    Files.write(p, body.getBytes(StandardCharsets.UTF_8))
    path
  }.toEither.left.map(_.toString)

  /** The traced pass and its per-layer metrics. */
  def traced(spark: SparkSession, w: Workload, untracedWallS: Double, cores: Int,
             seed: Long): (Seq[Metric], String, Seq[Option[String]]) = {
    val tr = new Tracer(spark, s"${w.name}-$seed")
    tr.install()
    val gc0 = Jvm.gcMs
    Jvm.resetPeak()
    w.tracedPass(tr)
    val gcS = (Jvm.gcMs - gc0) / 1e3
    val heapPeakMb = Jvm.heapPeakBytes / 1e6
    val checks = w.checkPass(-1)
    val spans = tr.allSpans
    tr.uninstall()

    val pass = spans.filter(_.name == "pass").maxBy(_.start)
    val (lo, hi) = (pass.start, pass.end)
    val wallUs = pass.dur.toDouble
    val inPass = tr.descendants(pass.id)
    val bench = spans.filter(s => s.kind == "bench" && inPass.contains(s.id))
    val sql = spans.filter(s => s.kind == "sql" && inPass.contains(s.parent))
    def sumS(xs: Seq[Span]) = xs.map(_.dur).sum / 1e6
    def named(n: String) = bench.filter(_.name == n)
    def shuffleMb(n: String) = tr.tasksOf(named(n).map(_.id).toSet).map(_.shuffleWrite).sum / 1e6
    val toolsIds = named("tools.preprocess_store").map(_.id).toSet
    // stages decomposed into operators.* spans re-read persisted blocks, which
    // Spark also counts as input; only tasks outside those spans read files
    val operatorIds = bench.filter(_.name.startsWith("operators.")).map(_.id).toSet
    val storeReadBytes = tr.tasksOf(bench.map(_.id).toSet -- operatorIds).map(_.input).sum

    val ev = tr.events
    val (jobs, stages, tasks, diskBytes) = ev.synchronized {
      val js = ev.jobs.values.filter { case (s, _) => s * 1000L >= lo && s * 1000L <= hi }.toSeq
      val st = ev.stagesDone.count(t => t * 1000L >= lo && t * 1000L <= hi)
      val ts = ev.tasks.filter { case (t, _) => t * 1000L >= lo && t * 1000L <= hi }.map(_._2).toSeq
      val disk = ev.diskBlocks.values.filter { case (t, _) => t * 1000L >= lo && t * 1000L <= hi }
        .map(_._2).sum
      (js, st, ts, disk)
    }
    val jobUnionUs = Intervals.union(jobs.map { case (s, e) => (s * 1000L, e * 1000L) }, lo, hi)
    val kids = spans.filter(_.parent == pass.id).map(s => (s.start, s.end))
    val otherS = (wallUs - Intervals.union(kids, lo, hi)) / 1e6

    val progress = tr.streaming.synchronized {
      tr.streaming.progress.filter { case (t, _) => t * 1000L >= lo && t * 1000L <= hi + 5000000L }
        .map(_._2).toSeq
    }
    def dms(key: String) = progress.map(p => Option(p.durationMs.get(key)).fold(0L)(_.toLong)).sum.toDouble
    val stateRows = progress.groupBy(_.runId).values
      .map(ps => ps.last.stateOperators.map(_.numRowsTotal).sum).sum

    val (rawLen, rawRate, traces) = w.probeShape
    val (resampleMs, notchMs, waveletMs) = dspProbe(rawLen, rawRate, seed)
    val dsLen = math.ceil(rawLen * 3200.0 / rawRate)
    val kernelMs = traces * (resampleMs * rawLen + (notchMs + waveletMs) * dsLen) / 1e6
    // share of the untraced pass the kernels alone would keep every core busy
    val kernelShare = kernelMs / (cores * untracedWallS * 1e3)

    val metrics = Seq(
      Metric("trace.overhead_ratio", wallUs / 1e6 / untracedWallS - 1.0, "ratio"),
      Metric("trace.wall_s", wallUs / 1e6, "s"),
      Metric("trace.other_s", otherS, "s"),
      Metric("dsp.resample_ms_per_msample", resampleMs, "ms/Msample"),
      Metric("dsp.notch_ms_per_msample", notchMs, "ms/Msample"),
      Metric("dsp.wavelet_ms_per_msample", waveletMs, "ms/Msample"),
      Metric("dsp.kernel_share", kernelShare, "ratio"),
      Metric("operators.resample_s", sumS(named("operators.resample")), "s"),
      Metric("operators.notch_s", sumS(named("operators.notch")), "s"),
      Metric("operators.car_s", sumS(named("operators.car")), "s"),
      Metric("operators.wavelet_amp_s", sumS(named("operators.wavelet_amp")), "s"),
      Metric("operators.final_resample_s", sumS(named("operators.final_resample")), "s"),
      Metric("operators.hg_trace_s", sumS(named("operators.hg_trace")), "s"),
      Metric("operators.car_shuffle_mb", shuffleMb("operators.car"), "MB"),
      Metric("operators.hg_trace_shuffle_mb", shuffleMb("operators.hg_trace"), "MB"),
      Metric("store.read_s", sumS(named("store.read")), "s"),
      Metric("store.write_s", sumS(sql.filter(_.name.startsWith("sql.write:"))), "s"),
      Metric("store.read_mb", storeReadBytes / 1e6, "MB"),
      Metric("store.write_mb", tasks.map(_.output).sum / 1e6, "MB"),
      Metric("spark.persist_disk_mb", diskBytes / 1e6, "MB"),
      Metric("tools.preprocess_store_s", sumS(named("tools.preprocess_store")), "s"),
      Metric("tools.nch_probe_s",
        sumS(sql.filter(s => s.name == "sql.count" && toolsIds.contains(s.parent))), "s"),
      Metric("spark.driver_s", (wallUs - jobUnionUs) / 1e6, "s"),
      Metric("spark.jobs", jobs.size.toDouble, "count"),
      Metric("spark.stages", stages.toDouble, "count"),
      Metric("spark.tasks", tasks.size.toDouble, "count"),
      Metric("spark.task_busy_ratio", tasks.map(_.runMs).sum / (cores * wallUs / 1e3), "ratio"),
      Metric("spark.shuffle_write_mb", tasks.map(_.shuffleWrite).sum / 1e6, "MB"),
      Metric("spark.spill_mb", tasks.map(_.spill).sum / 1e6, "MB"),
      Metric("spark.gc_s", gcS, "s"),
      Metric("jvm.heap_peak_mb", heapPeakMb, "MB"),
      Metric("streaming.batches", progress.size.toDouble, "count"),
      Metric("streaming.batch_p50_ms",
        if (progress.isEmpty) 0.0 else median(progress.map(_.batchDuration.toDouble)), "ms"),
      Metric("streaming.add_batch_ms", dms("addBatch"), "ms"),
      Metric("streaming.wal_commit_ms", dms("walCommit"), "ms"),
      Metric("streaming.state_commit_ms",
        progress.map(_.stateOperators.map(_.commitTimeMs).sum).sum.toDouble, "ms"),
      Metric("streaming.state_rows", stateRows.toDouble, "count")
    ) ++ RegistrySlice.Queries.map(q => Metric(s"queries.${q}_s", sumS(named(s"queries.$q")), "s"))
    val js = json(tr.spansJson(ListMap("workload" -> w.name, "seed" -> seed,
      "wall_s" -> wallUs / 1e6, "other_s" -> otherS)))
    (metrics, js, checks)
  }

  /** Single-threaded kernel cost in ms per million input samples: resample
    * of a raw trace to 3200 Hz, then notch and high-gamma wavelet bands at
    * 3200 Hz, at the workload's own trace length. */
  def dspProbe(rawLen: Int, rawRate: Double, seed: Long): (Double, Double, Double) = {
    val x = Synthetic.rawTraceForSource(rawLen, seed, 0).map(v => (v * 1e6).toFloat)
    val ds = Signal32.resample(x, 3200.0, rawRate)
    val padded = ds.length + Signal.padPlan(ds.length, FastPad).padTotal
    val fb = Kernels.filterbank("rat", padded, 3200.0, hgOnly = true)
    def msPerMsample(samples: Int)(body: => Unit): Double = {
      body; body // warm
      val t = System.nanoTime()
      var n = 0
      while (n < 3 || System.nanoTime() - t < 300000000L) { body; n += 1 }
      (System.nanoTime() - t) / 1e6 / n / (samples / 1e6)
    }
    (msPerMsample(rawLen)(Signal32.resample(x, 3200.0, rawRate)),
      msPerMsample(ds.length)(Signal32.notch(ds, 3200.0)),
      msPerMsample(ds.length)(Signal32.waveletBands(ds, fb.kernels)))
  }
}
