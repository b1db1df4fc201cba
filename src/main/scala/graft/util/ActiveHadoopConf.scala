package graft.util

import org.apache.hadoop.conf.Configuration

/** The Hadoop conf for driver-side IO that takes no SparkSession argument
  * (the manifest, the offset mapping, evidence files): the ACTIVE session's,
  * else the default session's, else a fresh one. A fresh `Configuration()`
  * while a session exists would drop every `spark.hadoop.*` and runtime
  * setting (object-store credentials, endpoints, default FS, registered
  * schemes), making that file the one artifact that fails while segment IO
  * succeeds.
  */
object ActiveHadoopConf {
  def apply(): Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())
}
