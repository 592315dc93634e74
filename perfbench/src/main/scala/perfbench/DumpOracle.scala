package perfbench

/** Writes `SparkEntry.oracleSql` as a JSON object to the file named by the
  * first argument; `expected_counts.py` turns it into expected row counts.
  */
object DumpOracle {
  def main(args: Array[String]): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args(0)),
      Json.write(graft.SparkEntry.oracleSql))
}
