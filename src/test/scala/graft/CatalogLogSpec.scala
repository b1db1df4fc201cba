package graft

import graft.catalog._
import graft.codec.CompressionCodec
import graft.metrics.GraftCounters
import graft.model.KRecord
import graft.pipelines._
import org.apache.spark.sql.functions.col
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** The backup catalog and the offset marks on the versioned log
  * (`_graft_log/<v>`): compare-and-swap between writers, migration from
  * the files earlier versions wrote, and a failed commit.
  */
class CatalogLogSpec extends SparkSpec {

  private def seg(id: String, i: Int) = SegmentMetadata(
    Manifest.segmentKey(id, "t", 0, i * 100L, ""), i * 100L, i * 100L + 99,
    1000L * i, 1000L * i + 999, 100, 1000, 500)
  private def manifestFor(id: String, i: Int) = BackupManifest(id, 1700000000000L + i, None,
    Nil, "none", List(TopicBackup("t", Some(1), List(PartitionBackup(0, List(seg(id, i)))))))
  private def keys(m: BackupManifest): Set[String] =
    m.topics.flatMap(_.partitions).flatMap(_.segments).map(_.key).toSet
  private def logVersions(dir: String): Seq[Long] =
    Option(new java.io.File(dir, "_graft_log").list()).getOrElse(Array.empty[String])
      .filter(_.forall(_.isDigit)).map(_.toLong).sorted.toSeq
  private def retries = GraftCounters.get("manifest_cas_retry_total")

  test("two catalog writers that read the same version both land: the loser re-reads, re-merges and commits the next version") {
    val root = Files.createTempDirectory("graft-catalog-cas").toString
    Manifest.save(root, manifestFor("cas", 0))
    val r0 = retries
    var interleaved = false
    // writer A reads version 1; before its commit, writer B reads the same
    // version 1 and commits version 2; A's commit of 2 loses and retries
    val a = Manifest.commitMerged(root, manifestFor("cas", 1), () =>
      if (!interleaved) { interleaved = true; Manifest.save(root, manifestFor("cas", 2)) })
    assert(interleaved)
    assert(retries == r0 + 1, "exactly one lost round")
    assert(logVersions(s"$root/cas") == Seq(1L, 2L, 3L))
    val loaded = Manifest.load(root, "cas")
    assert(keys(loaded) == (0 to 2).map(seg("cas", _).key).toSet)
    assert(keys(a) == keys(loaded))
    // the export is the newest commit's catalog
    val export = Manifest.fromJson(new String(
      Files.readAllBytes(Paths.get(root, "cas", "manifest.json")), UTF_8))
    assert(export == loaded)
  }

  test("a backup with only a reference-shaped manifest.json loads, and its first save commits _graft_log/1 with the legacy segments merged in") {
    val root = Files.createTempDirectory("graft-catalog-legacy").toString
    Files.createDirectories(Paths.get(root, "lg"))
    // the reference engine's manifest: pretty JSON, no log beside it
    val legacy = manifestFor("lg", 0)
    Files.write(Paths.get(root, "lg", "manifest.json"), Manifest.toJson(legacy).getBytes(UTF_8))
    assert(Manifest.load(root, "lg") == legacy)
    assert(logVersions(s"$root/lg").isEmpty)
    Manifest.save(root, manifestFor("lg", 1))
    assert(logVersions(s"$root/lg") == Seq(1L))
    val entry = Manifest.fromJson(new String(
      Files.readAllBytes(Paths.get(root, "lg", "_graft_log", "1")), UTF_8))
    assert(keys(entry) == Set(seg("lg", 0).key, seg("lg", 1).key))
    assert(entry.created_at == legacy.created_at, "the existing catalog's fields win")
    assert(Manifest.load(root, "lg") == entry)
    // neither a log nor a manifest: the streaming drain relies on this
    intercept[java.io.FileNotFoundException](Manifest.load(root, "absent"))
  }

  test("a legacy parquet offset state reads as version 0 and stays advance-only through update and importSqlite") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-state-legacy").toString
    Seq(("backup-2025-00", "orders", 0, 700L, 1L), ("old", "t", 3, 9L, 2L))
      .toDF("backup_id", "topic", "partition", "last_offset", "checkpoint_ts")
      .coalesce(1).write.parquet(OffsetStateTable.path(root))
    assert(OffsetStateTable.lastOffsets(spark, root, "backup-2025-00") ==
      Map(("orders", 0) -> 700L))
    // a lower mark never moves the resume point back; a new partition lands
    OffsetStateTable.update(spark, root, BackupManifest("backup-2025-00", 1L, None, Nil,
      "none", List(TopicBackup("orders", Some(2), List(
        PartitionBackup(0, List(SegmentMetadata("k0", 0, 500, 0, 0, 501, 1, 1))),
        PartitionBackup(1, List(SegmentMetadata("k1", 0, 800, 0, 0, 801, 1, 1))))))))
    assert(logVersions(OffsetStateTable.path(root)) == Seq(1L))
    assert(OffsetStateTable.lastOffsets(spark, root, "backup-2025-00") ==
      Map(("orders", 0) -> 700L, ("orders", 1) -> 800L))
    assert(OffsetStateTable.lastOffsets(spark, root, "old") == Map(("t", 3) -> 9L))
    // the reference db's marks for these partitions are lower (0 and 2)
    val dbPath = {
      val p = Files.createTempFile("offsets-ref", ".db")
      val in = getClass.getResourceAsStream("/fixtures/offsets-ref.db")
      try Files.write(p, in.readAllBytes()) finally in.close()
      p.toString
    }
    val n = OffsetStateTable.importSqlite(spark, dbPath, root)
    assert(n > 0 && logVersions(OffsetStateTable.path(root)) == Seq(1L, 2L))
    val marks = OffsetStateTable.lastOffsets(spark, root, "backup-2025-00")
    assert(marks(("orders", 0)) == 700L && marks(("orders", 1)) == 800L)
    assert(OffsetStateTable.lastOffsets(spark, root, "old") == Map(("t", 3) -> 9L))
    // the legacy parquet files stay; the parquet reader skips the log
    assert(spark.read.parquet(OffsetStateTable.path(root)).count() == 2)
  }

  test("a failed catalog commit fails the backup loudly; the previous catalog still loads and restores record-identically, and a re-run converges") {
    val local = Files.createTempDirectory("graft-catalog-crash").toString
    val root = s"chaos:$local"
    val all = KRecord.fromEvents(spark, sf0001)
    def cfg = BackupConfig("cr", root, CompressionCodec.Zstd, enrichHeaders = false)
    def restored() = Restore.records(spark, RestoreConfig(root, "cr")).collect().toSeq
      .map(r => (r.topic, r.partition, r.offset, r.timestamp,
        Option(r.key).map(_.toSeq), Option(r.value).map(_.toSeq)))
      .sortBy(r => (r._1, r._2, r._3))
    val m1 = Backup.run(spark, all.filter(col("offset") < 500), cfg)
    val before = restored()
    assert(before.size == m1.totalRecords)

    // the second backup writes new offsets only: new segment keys, so a
    // failed commit leaves files that no catalog entry names
    val rest = all.filter(col("offset") >= 500)
    ChaosFileSystem.armPathCreateFailure("/_graft_log/", startAt = 1, times = 1)
    val ex = try intercept[java.io.IOException](Backup.run(spark, rest, cfg))
      finally ChaosFileSystem.disarm()
    assert(ChaosFileSystem.failureFired && ex.getMessage.contains("chaos"))
    assert(logVersions(s"$local/cr") == Seq(1L))
    assert(Manifest.load(root, "cr") == m1)
    assert(restored() == before, "the previous catalog must restore record-identically")

    val m2 = Backup.run(spark, rest, cfg)
    assert(m2.totalRecords == all.count())
    assert(logVersions(s"$local/cr") == Seq(1L, 2L))
    assert(keys(Manifest.load(root, "cr")) == keys(m2))
    val after = restored()
    assert(after.size == all.count() && after.map(r => (r._1, r._2, r._3)).distinct.size == after.size)
    assert(before.toSet.subsetOf(after.toSet))
  }
}
