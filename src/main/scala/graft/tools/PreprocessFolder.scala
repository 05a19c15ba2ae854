package graft.tools

import org.apache.spark.sql.SparkSession
import graft.store.NwbStore
import graft.operators.{Pipeline, DspOperators, CommonReferencing}
import graft.model.Frames

/** Folder driver — the engine's `scripts/preprocess_folder`: map the full
  * preprocessing pipeline over every session store under a root directory.
  * Where the reference loops files serially in one process, each session
  * here is one lazy Spark DAG over partition-parallel channel rows; sessions
  * are independent so a scheduler can also run them concurrently.
  *
  * Usage: PreprocessFolder <root> [--initial-rate R] [--final-rate R]
  *        [--filters rat|human|changlab] [--all-steps] [--acq-name NAME]
  *        [--precision single|double]
  * <root> contains one subdirectory per session, each an NwbStore layout.
  */
object PreprocessFolder {

  final case class Args(root: String = "", initialRate: Double = 3200.0,
                        finalRate: Double = 400.0, filters: String = "rat",
                        acqName: String = "ECoG", allSteps: Boolean = false,
                        precision: String = "single")

  def parse(argv: Array[String]): Args = {
    def loop(a: Args, rest: List[String]): Args = rest match {
      case Nil => a
      case "--initial-rate" :: v :: t => loop(a.copy(initialRate = v.toDouble), t)
      case "--final-rate" :: v :: t   => loop(a.copy(finalRate = v.toDouble), t)
      case "--filters" :: v :: t      => loop(a.copy(filters = v), t)
      case "--acq-name" :: v :: t     => loop(a.copy(acqName = v), t)
      case "--precision" :: v :: t    => loop(a.copy(precision = v), t)
      case "--all-steps" :: t         => loop(a.copy(allSteps = true), t)
      case v :: t if a.root.isEmpty   => loop(a.copy(root = v), t)
      case v :: _ => throw new IllegalArgumentException(s"unexpected arg $v")
    }
    val a = loop(Args(), argv.toList)
    require(a.root.nonEmpty, "usage: PreprocessFolder <root> [flags]")
    a
  }

  /** One session: resample -> store; notch+CAR -> store (fused like the
    * reference's store_linenoise_notch_CAR); wavelet amplitude -> store. */
  def preprocessStore(store: NwbStore, a: Args): Unit = {
    val raw = store.readAcquisition(a.acqName)
    val nCh = raw.select("channel").distinct().count().toInt
    val cast = (df: org.apache.spark.sql.DataFrame) => NwbStore.withPrecision(df, a.precision)

    // --precision single runs the reference's float32 COMPUTE mode through
    // the spectral ops (utils.py:9-31), not just the storage cast
    val down = DspOperators.resample(raw, a.initialRate, precision = a.precision)
    val notched = DspOperators.applyLinenoiseNotch(down, precision = a.precision)
    val referenced = CommonReferencing.subtractCarSegments(notched, nCh, precision = a.precision)
    val amp = DspOperators.amplitude(
      DspOperators.waveletTransform(referenced, a.filters, hgOnly = true,
        precision = a.precision))
    val ampResampled = DspOperators.resample(amp, a.finalRate, precision = a.precision)

    def writeWavelet(): Unit =
      // reference naming accretes the consumed series name:
      // wvlt_amp_ + CAR_ln_downsampled_<acq> (wavelet_transform.py:389,410)
      store.writeProcessing(s"wvlt_amp_CAR_ln_downsampled_${a.acqName}", cast(ampResampled),
        partitionByChannel = true)

    if (a.allSteps) {
      // three consumers share the resample+notch lineage (CAR_ln write,
      // CAR_of write, wavelet chain): persist it for the duration so the
      // most expensive FFT pass runs once, like Store.storeLinenoiseNotchCar
      val cached = notched.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      try {
        store.writeProcessing(s"downsampled_${a.acqName}", cast(down))
        // reference's store_linenoise_notch_CAR writes the referenced data
        // AND the CAR average itself (pipelines.py:148-170)
        store.writeProcessing(s"CAR_ln_downsampled_${a.acqName}", cast(referenced))
        store.writeProcessing(s"CAR_of_downsampled_${a.acqName}",
          cast(CommonReferencing.carSegments(cached, nCh, precision = a.precision)))
        writeWavelet()
      } finally cached.unpersist()
    } else writeWavelet()
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[8]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fs = new org.apache.hadoop.fs.Path(a.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sessions = fs.listStatus(new org.apache.hadoop.fs.Path(a.root))
      .filter(_.isDirectory).map(_.getPath.toString).sorted
    println(s"[preprocess_folder] ${sessions.length} sessions under ${a.root}")
    for (s <- sessions) {
      println(s"[preprocess_folder] $s")
      preprocessStore(new NwbStore(s, spark), a)
    }
    spark.stop()
  }
}
