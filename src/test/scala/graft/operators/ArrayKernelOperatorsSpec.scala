package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dsp.{Kernels, Signal, Signal32}
import graft.dsp.Signal.FastPad

/** The DSP operators whose array kernels run as primitive-array Catalyst
  * expressions (graft.functions.ArrayKernels): every operator's output
  * equals a direct call to its kernel bit for bit (NaN compared as NaN),
  * at both precisions, on odd- and even-length traces with NaN samples; a
  * null rate gives a null result and a null sample an error; array<float>
  * input is cast like a UDF argument; and the pipeline's executed plan
  * holds no Scala UDF. */
class ArrayKernelOperatorsSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("array-kernel-operators-spec")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val Rate = 1000.0
  private val NCh = 6
  private val Lengths = Map("odd" -> 1001, "even" -> 1000)

  /** series -> channel -> trace; channel 2 carries NaN samples. */
  private lazy val traces: Map[String, Map[Int, Array[Double]]] = {
    val rng = new scala.util.Random(17)
    Lengths.map { case (series, n) =>
      series -> (0 until NCh).map { ch =>
        val v = Array.fill(n)(rng.nextGaussian() * 40.0 + ch)
        if (ch == 2) { v(5) = Double.NaN; v(n / 2) = Double.NaN }
        ch -> v
      }.toMap
    }
  }

  private val schema = StructType(Seq(
    StructField("series", StringType), StructField("channel", IntegerType),
    StructField("band", IntegerType), StructField("rate", DoubleType),
    StructField("startingTime", DoubleType), StructField("values", ArrayType(DoubleType))))

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  private lazy val segments: DataFrame = frame(
    for ((s, chs) <- traces.toSeq; (ch, v) <- chs.toSeq) yield Row(s, ch, null, Rate, 0.0, v.toSeq))

  private def byKey(df: DataFrame, key: String = "channel"): Map[(String, Any), Array[Double]] =
    df.select(col("series"), col(key), col("values")).collect()
      .map(r => (r.getString(0), r.get(1)) -> r.getSeq[Double](2).toArray).toMap

  private def assertBits(got: Array[Double], want: Array[Double], what: String): Unit = {
    assert(got.length == want.length, s"$what: length ${got.length} != ${want.length}")
    var i = 0
    while (i < got.length) {
      assert(java.lang.Double.doubleToLongBits(got(i)) == java.lang.Double.doubleToLongBits(want(i)),
        s"$what: sample $i ${got(i)} != ${want(i)}")
      i += 1
    }
  }

  private def f32(v: Array[Double]): Array[Float] = v.map(_.toFloat)
  private def f64(v: Array[Float]): Array[Double] = v.map(_.toDouble)

  for (precision <- Seq("double", "single")) {
    val single = precision == "single"

    test(s"resample with preScale, $precision: equals Signal${if (single) "32" else ""}.resample") {
      val got = byKey(DspOperators.resample(segments, 400.0, preScale = 2.5, precision = precision))
      for ((s, chs) <- traces; (ch, v) <- chs) {
        val want =
          if (single) f64(Signal32.resample(v.map(x => (x * 2.5).toFloat), 400.0, Rate, FastPad))
          else Signal.resample(v.map(_ * 2.5), 400.0, Rate, FastPad)
        assertBits(got((s, ch)), want, s"resample $s/$ch")
      }
    }

    test(s"notch, $precision: equals the dsp notch kernel") {
      val got = byKey(DspOperators.applyLinenoiseNotch(segments, precision = precision))
      for ((s, chs) <- traces; (ch, v) <- chs) {
        val want =
          if (single) f64(Signal32.notch(f32(v), Rate, 60.0, FastPad, false))
          else Signal.notch(v, Rate, 60.0, FastPad, false)
        assertBits(got((s, ch)), want, s"notch $s/$ch")
      }
    }

    test(s"wavelet bands + amplitude, $precision: equal waveletBands over the cached filterbank") {
      val wav = DspOperators.waveletTransform(segments, "rat", hgOnly = true, precision = precision)
      val rows = wav.select("series", "channel", "band", "re", "im").collect()
      val amp = DspOperators.amplitude(wav).select("series", "channel", "band", "values").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getInt(2)) -> r.getSeq[Double](3).toArray).toMap
      val nBands = Kernels.centerFrequencies("rat", hgOnly = true).length
      assert(rows.length == Lengths.size * NCh * nBands)
      for ((s, chs) <- traces; (ch, v) <- chs) {
        val padded = v.length + Signal.padPlan(v.length, FastPad).padTotal
        val fb = Kernels.filterbank("rat", padded, Rate, hgOnly = true)
        val bands: Array[Array[Double]] =
          if (single) Signal32.waveletBands(f32(v), fb.kernels, FastPad).map(f64)
          else Signal.waveletBands(v, fb.kernels, FastPad)
        for (b <- bands.indices) {
          val r = rows.find(r => r.getString(0) == s && r.getInt(1) == ch && r.getInt(2) == b).get
          val z = bands(b)
          assertBits(r.getSeq[Double](3).toArray, Array.tabulate(z.length / 2)(i => z(2 * i)), s"re $s/$ch/$b")
          assertBits(r.getSeq[Double](4).toArray, Array.tabulate(z.length / 2)(i => z(2 * i + 1)), s"im $s/$ch/$b")
          assertBits(amp((s, ch, b)), Signal.amplitude(z), s"amp $s/$ch/$b")
        }
      }
    }

    test(s"blocked CAR subtract and CAR trace, $precision: per-time-point trimmed nanmean") {
      // blockSize 128 leaves a ragged last block on both lengths
      val referenced = byKey(CommonReferencing.subtractCarSegments(segments, NCh, blockSize = 128,
        precision = precision))
      val carTrace = CommonReferencing.carSegments(segments, NCh, blockSize = 128,
        precision = precision).select("series", "values").collect()
        .map(r => r.getString(0) -> r.getSeq[Double](1).toArray).toMap
      val nExclude = math.ceil(NCh * 0.05 / 2).toInt
      for ((s, chs) <- traces) {
        val n = Lengths(s)
        val car = Array.tabulate(n) { t =>
          if (single) {
            val sorted = Array.tabulate(NCh)(ch => chs(ch)(t).toFloat).sorted(Ordering.Float.TotalOrdering)
            val kept = sorted.slice(nExclude, NCh - nExclude).filterNot(_.isNaN)
            (kept.foldLeft(0.0f)(_ + _) / kept.length).toDouble
          } else Signal.trimmedMean(Array.tabulate(NCh)(ch => chs(ch)(t)))
        }
        assertBits(carTrace(s), car, s"car trace $s")
        for ((ch, v) <- chs) {
          val want = Array.tabulate(n) { t =>
            if (single) (v(t).toFloat - car(t).toFloat).toDouble else v(t) - car(t)
          }
          assertBits(referenced((s, ch)), want, s"car subtract $s/$ch")
        }
      }
    }

    test(s"zscore and band mean (highGammaTrace), $precision: two-pass baseline z, band-order mean") {
      val bands = segments.withColumn("band", col("channel") % 3)
        .withColumn("channel", (col("channel") / 3).cast("int"))
      val z = byKey(DspOperators.zscoreSegments(bands, 125, precision)
        .withColumn("channel", col("channel") * 3 + col("band")))
      val hg = byKey(Pipeline.highGammaTrace(bands, 125, precision))
      def zscore(v: Array[Double]): Array[Double] =
        if (single) {
          val base = v.take(125).map(_.toFloat)
          val mu = base.foldLeft(0.0f)(_ + _) / base.length
          val sd = math.sqrt((base.map(x => (x - mu) * (x - mu)).foldLeft(0.0f)(_ + _) / base.length).toDouble).toFloat
          v.map(x => ((x.toFloat - mu) / sd).toDouble)
        } else {
          val base = v.take(125)
          val mu = base.foldLeft(0.0)(_ + _) / base.length
          val sd = math.sqrt(base.map(x => x * x).foldLeft(0.0)(_ + _) / base.length - mu * mu)
          v.map(x => (x - mu) / sd)
        }
      for ((s, chs) <- traces) {
        for ((ch, v) <- chs) assertBits(z((s, ch)), zscore(v), s"zscore $s/$ch")
        for (c <- 0 until NCh / 3) {
          val members = (0 until 3).map(b => zscore(chs(3 * c + b)))
          val want =
            if (single) Array.tabulate(Lengths(s))(i =>
              (members.foldLeft(0.0f)((a, m) => a + m(i).toFloat) / 3).toDouble)
            else Array.tabulate(Lengths(s))(i => members.foldLeft(0.0)((a, m) => a + m(i)) / 3)
          assertBits(hg((s, c)), want, s"band mean $s/$c")
        }
      }
    }
  }

  test("a null rate gives a null trace; array<float> and int inputs are cast") {
    val v = traces("odd")(0)
    val df = frame(Seq(Row("a", 0, null, Rate, 0.0, v.toSeq), Row("a", 1, null, null, 0.0, v.toSeq)))
    val resampled = DspOperators.resample(df, 400.0).select("channel", "values").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(resampled(1) == null)
    val notched = DspOperators.applyLinenoiseNotch(df).select("channel", "values").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(notched(1) == null && notched(0) != null)
    // explode of a null band array: the channel drops out, as with the UDF
    assert(DspOperators.waveletTransform(df).select("channel").distinct().collect()
      .map(_.getInt(0)).toSeq == Seq(0))
    assert(DspOperators.welchPsd(df, 64, 32).select("channel").distinct().collect()
      .map(_.getInt(0)).toSeq == Seq(0))

    // a null sample fails loudly, as the UDF's non-nullable element did
    val holed = frame(Seq(Row("a", 0, null, Rate, 0.0, Seq(1.0, null, 3.0))))
    val err = intercept[Exception](DspOperators.resample(holed, 400.0).collect())
    assert(err.getMessage.contains("null array element"))

    val narrowed = df.filter(col("channel") === 0)
      .withColumn("values", col("values").cast("array<float>"))
      .withColumn("rate", col("rate").cast("int"))
    val got = DspOperators.resample(narrowed, 400.0).select("values").head().getSeq[Double](0).toArray
    assertBits(got, Signal.resample(v.map(_.toFloat.toDouble), 400.0, Rate, FastPad), "float input")
  }

  test("preprocessBlock -> highGammaTrace: executed plan holds no Scala UDF") {
    val cfg = Pipeline.Config(initialRate = 800.0, finalRate = Some(200.0), precision = "single")
    val hg = Pipeline.highGammaTrace(Pipeline.preprocessBlock(segments, NCh, cfg), precision = "single")
    assert(hg.collect().length == Lengths.size * NCh)
    val plan = hg.queryExecution.executedPlan
    val udfs = flatMap(plan)(_.expressions.flatMap(_.collect { case u: ScalaUDF => u }))
    assert(udfs.isEmpty, s"ScalaUDFs in the executed plan: $udfs")
    val text = flatMap(plan)(_.expressions.map(_.toString)).mkString("\n")
    for (k <- Seq("resample(", "notch(", "car_blocks(", "car_subtract(", "wavelet(",
                  "zscore(", "band_mean("))
      assert(text.contains(k), s"$k missing from the executed plan")
  }
}
