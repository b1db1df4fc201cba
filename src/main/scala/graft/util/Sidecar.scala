package graft.util

import org.apache.spark.sql.SparkSession

/** Shared Hadoop-FS JSON-sidecar IO for persisted model/index layouts (ANN
  * indexes, LM counts, classifier coefficients). The filesystem is resolved
  * FROM THE PATH URI, so `s3a://…`, `hdfs://…`, and local paths all work and
  * every call site agrees on the resolution rule.
  */
object Sidecar {

  def write(spark: SparkSession, path: String, name: String,
            body: String): Unit = {
    // write-temp-then-overwrite-rename, NOT create(overwrite=true): a
    // plain overwrite truncates the only copy before the new bytes land,
    // so a crash mid-write destroys the sidecar (for a model sidecar that
    // is the index's centroids or codebooks — dead until rebuild).
    // Versioned admin state does not go through here: ingest layouts keep
    // it in StreamCommit's create-if-absent log. FileContext.rename
    // with OVERWRITE is the atomic primitive on rename-capable stores;
    // readers see the old body or the new one, never a torn file.
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path), conf)
    val dest = new org.apache.hadoop.fs.Path(s"$path/$name")
    val tmp = new org.apache.hadoop.fs.Path(
      s"$path/.$name.tmp.${java.util.UUID.randomUUID().toString.take(8)}")
    val os = fs.create(tmp, true)
    try os.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally os.close()
    try
      org.apache.hadoop.fs.FileContext.getFileContext(new java.net.URI(path), conf)
        .rename(tmp, dest, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    catch {
      case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
        // a FileSystem without an AbstractFileSystem binding (e.g. the
        // chaos test scheme) can't do overwrite-rename atomically; the
        // delete+rename fallback's crash window is a MISSING file (loud,
        // recoverable from tmp) rather than a torn one
        fs.delete(dest, false)
        require(fs.rename(tmp, dest), s"sidecar rename failed: $tmp -> $dest")
    }
  }

  def read(spark: SparkSession, path: String, name: String): String = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new org.apache.hadoop.fs.Path(s"$path/$name"))
    new String(
      try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in) finally in.close(),
      java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Extract a required long field from a flat JSON sidecar body. */
  def requiredLong(body: String, field: String, where: String): Long =
    (""""""" + field + """"\s*:\s*(\d+)""").r.findFirstMatchIn(body)
      .map(_.group(1).toLong)
      .getOrElse(throw new IllegalArgumentException(s"$where has no $field"))
}
