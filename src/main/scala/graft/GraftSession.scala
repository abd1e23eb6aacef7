package graft

import org.apache.spark.sql.SparkSession

/** The one place engine session defaults live. The engine runs in
  * process, so these confs are engine behaviour, not deployment
  * tuning: every entry point and the test suite build through
  * [[builder]] and add only what really differs (app name, a master
  * override, a warehouse dir).
  */
object GraftSession {

  /** Task slots an entry point runs with: `SPARK_GRAFT_CPUS`, else 32. */
  def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(32)

  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      // write standard annotated INT64 micros (not deprecated INT96) so
      // parquet footers carry usable timestamp stats for pruned merges
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // fork-free local FS: no per-file chmod spawn, no .crc sidecars —
      // see graft.sources.FastLocalFs; inert off-local
      .config("spark.hadoop.fs.file.impl", "graft.sources.FastLocalFs")
      // RAM-backed shuffle dir when headroom allows — see
      // graft.sources.LocalDirs for the scale story and overrides
      .config(graft.sources.LocalDirs.confMap)
      .config("spark.ui.enabled", "false")
}
