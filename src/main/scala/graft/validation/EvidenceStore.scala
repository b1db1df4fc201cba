package graft.validation

import java.nio.charset.StandardCharsets
import java.security.KeyPair

/** Evidence persistence (reference evidence/storage.rs:1-95): reports live in
  * object storage under `{prefix}/{report_id}/{yyyy}/{MM}/{report_id}.json`
  * with a detached `.sig` beside them. All IO goes through Hadoop FS, so the
  * same code serves file://, hdfs:// and object stores.
  *
  * One deliberate addition over the reference: the signer's PUBLIC key is
  * stored as `{report_id}.pub` (X.509, base64) next to the signature, so
  * `verify` is self-contained; the reference assumes out-of-band key
  * distribution. PDF rendering (evidence/pdf.rs) stays out of scope —
  * presentation, not data.
  */
object EvidenceStore {

  private def fs(root: String) = org.apache.hadoop.fs.FileSystem.get(
    new java.net.URI(root), graft.util.ActiveHadoopConf())

  private def put(root: String, key: String, bytes: Array[Byte]): Unit = {
    val f = fs(root)
    val os = f.create(new org.apache.hadoop.fs.Path(s"$root/$key"), true)
    try os.write(bytes) finally os.close()
  }

  private def get(root: String, key: String): Array[Byte] = {
    val f = fs(root)
    val in = f.open(new org.apache.hadoop.fs.Path(s"$root/$key"))
    try in.readAllBytes() finally in.close()
  }

  /** storage.rs:10-27 key layout; month layout from the save instant. */
  def jsonKey(prefix: String, reportId: String, nowMs: Long): String = {
    val d = java.time.Instant.ofEpochMilli(nowMs).atZone(java.time.ZoneOffset.UTC)
    f"$prefix/$reportId/${d.getYear}%04d/${d.getMonthValue}%02d/$reportId.json"
  }

  /** Save report + rendered PDF + detached signature + public key
    * (storage.rs upload_evidence_json/pdf/signature); returns the JSON key.
    */
  def save(root: String, prefix: String, report: EvidenceReport, keyPair: KeyPair,
           nowMs: Long = System.currentTimeMillis()): String = {
    val reportId = s"${report.backup_id}-${report.created_at}"
    val jk = jsonKey(prefix, reportId, nowMs)
    val base = jk.stripSuffix(".json")
    put(root, jk, Evidence.canonicalJson(report).getBytes(StandardCharsets.UTF_8))
    put(root, s"$base.pdf", EvidencePdf.render(report))
    put(root, s"$base.sig",
      Evidence.sign(report, keyPair).getBytes(StandardCharsets.UTF_8))
    put(root, s"$base.pub", java.util.Base64.getEncoder
      .encodeToString(keyPair.getPublic.getEncoded).getBytes(StandardCharsets.UTF_8))
    jk
  }

  /** storage.rs:72-80: canonical reports only (the .json keys), sorted. */
  def list(root: String, prefix: String): Seq[String] = {
    val f = fs(root)
    val p = new org.apache.hadoop.fs.Path(s"$root/$prefix")
    if (!f.exists(p)) return Nil
    val it = f.listFiles(p, true)
    val out = Seq.newBuilder[String]
    while (it.hasNext) {
      val st = it.next()
      val full = st.getPath.toUri.getPath
      val rootPath = new org.apache.hadoop.fs.Path(s"$root").toUri.getPath
      if (full.endsWith(".json"))
        out += full.stripPrefix(rootPath).stripPrefix("/")
    }
    out.result().sorted
  }

  /** Parse a stored canonical report back into the case class. */
  def load(root: String, jsonKey: String): EvidenceReport = {
    import org.json4s._
    implicit val formats: Formats = DefaultFormats
    org.json4s.jackson.JsonMethods.parse(
      new String(get(root, jsonKey), StandardCharsets.UTF_8)).extract[EvidenceReport]
  }

  /** Verification against the caller's trusted key (`expectedKey`), or —
    * when none is supplied — against the public key stored BESIDE the
    * signature. The self-contained form detects corruption only, NOT
    * tampering: an attacker with store write access can re-sign a modified
    * report with their own key and overwrite both sidecars. Real
    * tamper-evidence requires distributing the verification key out of
    * band and passing it here (the reference's K9 model). False on any
    * missing artifact or mismatch — never throws for bad evidence.
    */
  def verify(root: String, jsonKey: String,
             expectedKey: Option[java.security.PublicKey] = None): Boolean = {
    try {
      val base = jsonKey.stripSuffix(".json")
      val report = load(root, jsonKey)
      val sig = new String(get(root, s"$base.sig"), StandardCharsets.UTF_8)
      val pub = expectedKey.getOrElse {
        val pubBytes = java.util.Base64.getDecoder.decode(
          new String(get(root, s"$base.pub"), StandardCharsets.UTF_8))
        java.security.KeyFactory.getInstance("Ed25519")
          .generatePublic(new java.security.spec.X509EncodedKeySpec(pubBytes))
      }
      Evidence.verify(report, sig, pub)
    } catch { case _: Exception => false }
  }
}
