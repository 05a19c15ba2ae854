package graft.perfbench

import scala.util.{Random, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.model.Synthetic
import graft.operators.{CommonReferencing, DspOperators, Pipeline}
import graft.store.NwbStore
import graft.tools.PreprocessFolder

/** What a workload sees of the run: the session, a scratch directory inside
  * the checkout, the seed, and whether to use the tiny smoke sizes. */
final case class Ctx(spark: SparkSession, work: String, seed: Long, smoke: Boolean,
                     corrupt: Boolean, expectedFile: String)

/** One timed operation: a recording, a session or a query. */
final case class Op(name: String, wallS: Double, error: Option[String])

trait Workload {
  def name: String
  /** Raw channel-samples one pass processes (0 when the input is not a
    * recording). */
  def samplesPerPass: Long
  /** Per-channel raw trace length and rate the DSP kernel probes use, and
    * how many such traces one pass transforms. */
  def probeShape: (Int, Double, Int)
  def sizes: Map[String, Any]
  /** Generates the inputs from the seed, replacing earlier ones. */
  def prepare(): Unit
  /** Untimed passes after set-up, until timings settle. With the default
    * JIT on 4 vCPUs, pass times fell for about 10 passes on session_hg and
    * 6 on registry_slice. */
  def warmPasses: Int
  def pass(): Seq[Op]
  /** Output checks after pass `i`, outside its timing: None = passed. With
    * `Ctx.corrupt` the outputs are corrupted first, so checks must fail. */
  def checkPass(i: Int): Seq[Option[String]]
  def tracedPass(tr: Tracer): Unit

  protected def timed(name: String)(body: => Unit): Op = {
    val t = System.nanoTime()
    val err = Try(body).failed.toOption.map(e => s"$name: $e")
    Op(name, (System.nanoTime() - t) / 1e9, err)
  }
}

object Workloads {
  val RecordingRate = 12207.03125 // tests/test_pipeline.py of the reference
  val Names = Seq("session_hg", "registry_slice")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "session_hg" => new SessionHg(ctx)
    case "registry_slice" => new RegistrySlice(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (expected one of ${Names.mkString(", ")})")
  }

  /** Channels whose output is recomputed: first, last and one chosen by seed. */
  def sampledChannels(nCh: Int, seed: Long): Seq[Int] =
    Seq(0, nCh - 1, new Random(seed).nextInt(nCh)).distinct.sorted

  def collectTraces(df: DataFrame): Map[Int, Array[Double]] =
    df.select(col("channel"), col("values").cast("array<double>")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap

  /** Shifts one sample so the check sees a corrupted output. */
  def corrupted(xs: Array[Double]): Array[Double] = {
    val out = xs.clone()
    out(out.length / 2) += 1.0 + out.map(math.abs).max
    out
  }

  def persistCount(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }
}

import Workloads._

/** One recording through the fused reference-default pipeline:
  * read -> preprocessBlock -> highGammaTrace -> write. */
final class SessionHg(ctx: Ctx) extends Workload {
  import ctx.spark
  val name = "session_hg"
  private val nCh = if (ctx.smoke) 8 else 64
  private val durS = if (ctx.smoke) 1.0 else 6.0
  private val cfg = Pipeline.Config(initialRate = 3200.0, finalRate = Some(400.0),
    filters = "rat", hgOnly = true, precision = "single")
  private val store = new NwbStore(s"${ctx.work}/session_hg", spark)
  private val acq = "ECoG"
  private val out = "hg_trace_ECoG"
  private val rawLen = (durS * RecordingRate).toInt

  def warmPasses: Int = 10
  def samplesPerPass: Long = rawLen.toLong * nCh
  def probeShape: (Int, Double, Int) = (rawLen, RecordingRate, nCh)
  def sizes: Map[String, Any] = Map("channels" -> nCh, "duration_s" -> durS,
    "rate_hz" -> RecordingRate, "precision" -> cfg.precision)

  def prepare(): Unit =
    store.writeAcquisition(acq, Synthetic.segments(spark, durS, nCh, RecordingRate,
      seed = ctx.seed))

  def pass(): Seq[Op] = Seq(timed("recording") {
    val amp = Pipeline.preprocessBlock(store.readAcquisition(acq), nCh, cfg)
    store.writeProcessing(out, Pipeline.highGammaTrace(amp, precision = cfg.precision))
  })

  def tracedPass(tr: Tracer): Unit = tr.span("pass") {
    val p = cfg.precision
    val raw = tr.span("store.read") { persistCount(store.readAcquisition(acq)) }
    val down = tr.span("operators.resample") {
      persistCount(DspOperators.resample(raw, cfg.initialRate, cfg.npad,
        preScale = cfg.scaling, precision = p))
    }
    val notched = tr.span("operators.notch") {
      persistCount(DspOperators.applyLinenoiseNotch(down, cfg.noiseHz, cfg.npad, precision = p))
    }
    val referenced = tr.span("operators.car") {
      persistCount(CommonReferencing.subtractCarSegments(notched, nCh, cfg.meanFrac,
        precision = p))
    }
    val amp = tr.span("operators.wavelet_amp") {
      persistCount(DspOperators.amplitude(DspOperators.waveletTransform(referenced,
        cfg.filters, cfg.hgOnly, cfg.npad, precision = p)))
    }
    val fin = tr.span("operators.final_resample") {
      persistCount(DspOperators.resample(amp, cfg.finalRate.get, cfg.npad, precision = p))
    }
    val hg = tr.span("operators.hg_trace") { persistCount(Pipeline.highGammaTrace(fin, precision = p)) }
    tr.span("store.write") { store.writeProcessing(out, hg) }
    Seq(raw, down, notched, referenced, amp, fin, hg).foreach(_.unpersist())
  }

  private lazy val expected: Map[Int, Array[Double]] = {
    val raw = collectTraces(store.readAcquisition(acq))
    val dn = (0 until nCh).map(ch => Reference.downNotch(raw(ch), RecordingRate,
      cfg.initialRate, cfg.scaling)).toArray
    val car = Reference.car(dn)
    sampledChannels(nCh, ctx.seed).map { ch =>
      val ref = dn(ch).indices.map(i => dn(ch)(i) - car(i)).toArray
      ch -> Reference.highGamma(Reference.waveletAmp(ref, cfg.initialRate, cfg.filters,
        cfg.finalRate.get))
    }.toMap
  }

  def checkPass(i: Int): Seq[Option[String]] = {
    val got = collectTraces(store.readProcessing(out)
      .where(col("channel").isin(expected.keys.toSeq: _*)))
    expected.toSeq.sortBy(_._1).map { case (ch, ref) =>
      got.get(ch) match {
        case None => Some(s"pass $i: channel $ch missing from $out")
        case Some(v) => Reference.compare(s"pass $i $out channel $ch",
          if (ctx.corrupt) corrupted(v) else v, ref)
      }
    }
  }
}

/** One session store through the folder tool with every intermediate table
  * written (PreprocessFolder all-steps: resample, notch+CAR, the CAR itself,
  * wavelet amplitude), and the check of what it wrote. */
final class FolderSession(ctx: Ctx, dir: String, seed: Long) {
  import ctx.spark
  private val nCh = if (ctx.smoke) 4 else 8
  private val durS = if (ctx.smoke) 1.0 else 2.0
  private val args = PreprocessFolder.Args(root = dir, allSteps = true)
  private val rawLen = (durS * RecordingRate).toInt
  private val tables = Seq("downsampled_", "CAR_ln_downsampled_", "CAR_of_downsampled_",
    "wvlt_amp_CAR_ln_downsampled_").map(_ + args.acqName)
  private def store = new NwbStore(dir, spark)

  def samples: Long = rawLen.toLong * nCh
  def probeShape: (Int, Double, Int) = (rawLen, RecordingRate, nCh)
  def sizes: Map[String, Any] = Map("channels" -> nCh, "duration_s" -> durS,
    "rate_hz" -> RecordingRate, "precision" -> args.precision)

  def prepare(): Unit = store.writeAcquisition(args.acqName,
    Synthetic.segments(spark, durS, nCh, RecordingRate, seed = seed))

  def run(): Unit = PreprocessFolder.preprocessStore(store, args)

  /** Reference CAR and per-band wavelet amplitude of the sampled channels. */
  private lazy val expected: (Array[Double], Map[Int, Seq[Array[Double]]]) = {
    val raw = collectTraces(store.readAcquisition(args.acqName))
    val dn = (0 until nCh).map(ch => Reference.downNotch(raw(ch), RecordingRate,
      args.initialRate, 1.0)).toArray
    val car = Reference.car(dn)
    val amps = sampledChannels(nCh, seed).map { ch =>
      val ref = dn(ch).indices.map(t => dn(ch)(t) - car(t)).toArray
      ch -> Reference.waveletAmp(ref, args.initialRate, args.filters, args.finalRate).toSeq
    }.toMap
    (car, amps)
  }

  /** All four tables exist; the CAR and the sampled channels' amplitudes
    * match the reference. */
  def check(i: Int): Seq[Option[String]] = {
    val s = store
    val have = s.listProcessing().toSet
    val missing = tables.filterNot(have)
    val listed = if (missing.isEmpty) None else Some(s"pass $i: $dir lacks ${missing.mkString(", ")}")
    val (car, amps) = expected
    val gotCar = s.readProcessing(tables(2)).select(col("values").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    val carCheck = Reference.compare(s"pass $i folder CAR", gotCar, car)
    val ampRows = s.readProcessing(tables(3))
      .where(col("channel").isin(amps.keys.toSeq: _*))
      .select(col("channel"), col("band"), col("values").cast("array<double>")).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toArray).toMap
    val ampChecks = amps.toSeq.sortBy(_._1).flatMap { case (ch, bands) =>
      bands.zipWithIndex.map { case (ref, b) =>
        ampRows.get((ch, b)) match {
          case None => Some(s"pass $i folder channel $ch band $b missing")
          case Some(v) => Reference.compare(s"pass $i folder channel $ch band $b",
            if (ctx.corrupt) corrupted(v) else v, ref)
        }
      }
    }
    Seq(listed, carCheck) ++ ampChecks
  }
}

/** Short jobs bound by per-job fixed cost: registry queries, each
  * fingerprinted on its own (row count plus an order-free hash of every
  * column, which makes Spark compute the whole result) over generated
  * registry tables, and one session through the folder tool. The seed sets
  * the folder session's recording and the order of the operations. */
final class RegistrySlice(ctx: Ctx) extends Workload {
  import ctx.spark
  import RegistrySlice.FolderOp
  val name = "registry_slice"
  private val sf: Double = if (ctx.smoke) 0.0005 else 0.001
  private val dir = s"${ctx.work}/tables"
  private val folder = new FolderSession(ctx, s"${ctx.work}/folder/session_00", ctx.seed)
  private val order = new Random(ctx.seed).shuffle(RegistrySlice.Queries :+ FolderOp)
  private val queries = order.filter(_ != FolderOp)
  private val builds = SparkEntry.queries
  private val results = collection.mutable.Map.empty[String, (Long, String)]

  def warmPasses: Int = 7
  def samplesPerPass: Long = folder.samples
  def probeShape: (Int, Double, Int) = folder.probeShape
  def sizes: Map[String, Any] = Map("sf" -> sf, "order" -> order, "folder_session" -> folder.sizes)

  /** Recorded (rows, hash) per query for this scale. */
  private lazy val expected: Map[String, (Long, String)] = {
    val src = scala.io.Source.fromFile(ctx.expectedFile)
    try src.getLines().map(_.split('\t')).collect {
      case Array(s, q, rows, hash) if s.toDouble == sf => q -> (rows.toLong, hash)
    }.toMap
    finally src.close()
  }

  def prepare(): Unit = {
    RegistryTables.write(spark, dir, sf)
    folder.prepare()
  }

  private def run(op: String): Unit =
    if (op == FolderOp) folder.run()
    else {
      val df = builds(op)(spark, dir)
      results(op) = RegistrySlice.rowsAndHash(if (ctx.corrupt) df.union(df.limit(1)) else df)
    }

  def pass(): Seq[Op] = order.map(op => timed(op)(run(op)))

  def tracedPass(tr: Tracer): Unit = tr.span("pass") {
    order.foreach { op =>
      tr.span(if (op == FolderOp) "tools.preprocess_store" else s"queries.$op")(run(op))
    }
  }

  def checkPass(i: Int): Seq[Option[String]] = queries.map { q =>
    (results.get(q), expected.get(q)) match {
      case (_, None) => Some(s"$q: no recorded result for sf $sf")
      case (Some(got), Some(rec)) if got == rec => None
      case (got, Some(rec)) => Some(s"pass $i $q: got $got, recorded $rec")
    }
  } ++ folder.check(i)
}

object RegistrySlice {
  val Queries: Seq[String] = Seq(
    "q01_pricing_summary", "q143_triangle_census", "q270_streaming_bootstrap")
  /** The operation name of the folder-tool session. */
  val FolderOp = "folder_session"

  /** Row count plus an order-free hash: xor and low-word sum of each row's
    * xxhash64 over its JSON form, columns sorted by name. */
  def rowsAndHash(df: DataFrame): (Long, String) = {
    val h = xxhash64(to_json(struct(df.columns.sorted.map(c => col(s"`$c`")): _*)))
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), coalesce(bit_xor(col("h")), lit(0L)),
        coalesce(sum(col("h").bitwiseAND(0xFFFFFFFFL)), lit(0L)))
      .head()
    (r.getLong(0), f"${r.getLong(1)}%016x-${r.getLong(2)}%x")
  }
}
