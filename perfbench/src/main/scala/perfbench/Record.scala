package perfbench

import java.nio.file.{Files, Paths}

import graft.{GraftSession, SparkEntry}

/** Writes what the operator_mix gate is recorded from: each query's result
  * as parquet (for the DuckDB oracle compare), its `SparkEntry.oracleSql`
  * twin, and its fingerprint through the hash sink.
  *
  * Usage: perfbench.Record <tablesDir> <outDir>
  */
object Record {
  def main(args: Array[String]): Unit = {
    val Array(tables, out) = args
    val spark = GraftSession.local("perfbench-record")
    val fps = OperatorMix.Queries.map { q =>
      val df = SparkEntry.queries(q)(spark, tables)
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/$q")
      q -> HashSink.fingerprint(SparkEntry.queries(q)(spark, tables), q)
    }
    Files.writeString(Paths.get(s"$out/fingerprints.txt"),
      fps.map { case (q, fp) => s"$q $fp\n" }.mkString)
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      Main.json(OperatorMix.Queries.map(q => q -> SparkEntry.oracleSql(q)).toMap))
    spark.stop()
  }
}
