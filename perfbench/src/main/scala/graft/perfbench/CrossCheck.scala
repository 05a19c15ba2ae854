package graft.perfbench

/** Writes the registry tables: WriteTables <dir> <sf>. */
object WriteTables {
  def main(args: Array[String]): Unit = {
    val spark = Main.session(System.getProperty("java.io.tmpdir"))
    try RegistryTables.write(spark, args(0), args(1).toDouble)
    finally spark.stop()
  }
}

/** Prints `query<TAB>rows<TAB>hash` for query outputs written by
  * graft.Verify: HashOutputs <verifyOut> <q1,q2,...>. */
object HashOutputs {
  def main(args: Array[String]): Unit = {
    val spark = Main.session(System.getProperty("java.io.tmpdir"))
    try args(1).split(',').foreach { q =>
      val (rows, hash) = RegistrySlice.rowsAndHash(spark.read.parquet(s"${args(0)}/$q"))
      println(s"$q\t$rows\t$hash")
    }
    finally spark.stop()
  }
}
