package graft.perfbench

import graft.dsp.{Kernels, Signal}
import graft.dsp.Signal.FastPad

/** Single-threaded, double-precision recomputation of the preprocessing
  * chain through the public `graft.dsp` kernels, used to check what the
  * Spark operators wrote. The benchmark runs the operators at single
  * precision, so outputs are compared with a relative tolerance. */
object Reference {

  /** Largest |out - ref| allowed, as a share of max |ref| over the trace. */
  val Tolerance = 1e-3

  /** Resample to `initialRate`, then notch 60 Hz and harmonics. */
  def downNotch(raw: Array[Double], rate: Double, initialRate: Double,
                preScale: Double): Array[Double] =
    Signal.notch(Signal.resample(raw.map(_ * preScale), initialRate, rate), initialRate)

  /** Trimmed mean across channels at every time point (mean_frac 0.95). */
  def car(traces: Array[Array[Double]]): Array[Double] = {
    val n = traces.map(_.length).min
    Array.tabulate(n)(t => Signal.trimmedMean(traces.map(_(t))))
  }

  /** High-gamma wavelet amplitude per band, resampled to `finalRate`. */
  def waveletAmp(x: Array[Double], rate: Double, filters: String,
                 finalRate: Double): Array[Array[Double]] = {
    val padded = x.length + Signal.padPlan(x.length, FastPad).padTotal
    val fb = Kernels.filterbank(filters, padded, rate, hgOnly = true)
    Signal.waveletBands(x, fb.kernels, FastPad)
      .map(b => Signal.resample(Signal.amplitude(b), finalRate, rate))
  }

  /** Z-score each band against its first `baseline` samples, then average
    * across bands. */
  def highGamma(bands: Array[Array[Double]], baseline: Int = 125): Array[Double] = {
    val z = bands.map { v =>
      val b = v.take(baseline)
      val mu = b.sum / b.length
      val sd = math.sqrt(b.map(x => (x - mu) * (x - mu)).sum / b.length)
      v.map(x => (x - mu) / sd)
    }
    val n = z.map(_.length).min
    Array.tabulate(n)(i => z.map(_(i)).sum / z.length)
  }

  /** None when `out` matches `ref`, else a description of the mismatch. */
  def compare(what: String, out: Array[Double], ref: Array[Double]): Option[String] = {
    val peak = ref.map(math.abs).foldLeft(0.0)(math.max)
    if (out.length != ref.length) Some(s"$what: length ${out.length} != ${ref.length}")
    else {
      val err = out.indices.map(i => math.abs(out(i) - ref(i))).foldLeft(0.0)(math.max)
      if (err <= Tolerance * peak) None
      else Some(f"$what: max error $err%.3g exceeds ${Tolerance * peak}%.3g")
    }
  }
}
