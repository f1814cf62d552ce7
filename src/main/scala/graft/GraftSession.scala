package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory so Verify, Bench and tests share the
  * same semantics-critical configuration.
  *
  *  - UTC session timezone (oracle parity).
  *  - shuffle partitions sized to local cores, not the 200 default; AQE
  *    coalesces further at runtime (and handles skew joins at scale).
  *  - nanosAsLong: the events fixture stores TIMESTAMP(NANOS), which
  *    Spark has no native type for — read as long, converted to
  *    microsecond timestamps in Tables.events.
  *  - parquet outputs written as TIMESTAMP_MICROS (not INT96) so the
  *    DuckDB oracle reads identical values.
  */
object GraftSession {

  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // Checkpoint file checksums target object-store checkpoints; on a
      // local FS the checksum-write future can deadlock RocksDB snapshot
      // uploads (observed: tasks parked forever in
      // ChecksumCancellableFSDataOutputStream.close during TTL-state
      // commits). Local checkpoints don't need them.
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.ui.enabled", "false")

  def create(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // "No Partition Defined for Window operation" is known-benign here:
    // PlanAuditSpec fails any query whose plan has a partition-less
    // WindowExec or WindowGroupLimitExec without an allowlisted bound, so
    // the warning would only bury real failures in the verify and test
    // logs. It is logged by WindowExecBase under the WindowExec logger.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }
}
