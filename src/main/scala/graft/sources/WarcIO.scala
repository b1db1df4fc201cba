package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets

/** WARC (ISO 28500 / WARC 1.1) interchange — the crawl format a
  * training-data pipeline actually receives (Common Crawl ships WARC):
  * read crawl archives into the documents shape and write corpora back out
  * as standards-shaped archives. Built from the PUBLIC spec
  * (https://iipc.github.io/warc-specifications/), no reference-repo analog
  * — the brief's "another source format" for the curation chain
  * (WARC → [[graft.text.CorpusClean.extractHtmlText]] → pipeline).
  *
  * Scope (the 100 TB-relevant subset, deliberately):
  *  - records are `WARC/1.0|1.1` header blocks (CRLF lines, `Name: value`)
  *    + `Content-Length` payload bytes + CRLF CRLF separator;
  *  - `resource` records carry raw payloads; `response` records carry an
  *    HTTP response whose header block (up to the first CRLF CRLF) is
  *    stripped to yield the body — the two types a corpus reader needs;
  *    other types (warcinfo, request, metadata) are skipped;
  *  - whole-member gzip (the Common Crawl layout: each record its own gzip
  *    member, members concatenated) and plain files both read — sniffed by
  *    magic, decompressed as a multi-member stream.
  *
  * Files are whole-file units exactly like KBAK segments: read =
  * `binaryFile` scan → per-file parse (streamed record-by-record, never
  * the whole archive as one String); write = one archive per partition via
  * the same Hadoop-FS single-writer recipe. Malformed tails are counted,
  * not job-fatal (the PERMISSIVE discipline of [[CorpusIO]]).
  */
object WarcIO {

  private val Crlf = "\r\n".getBytes(StandardCharsets.US_ASCII)

  /** One parsed payload-bearing record. `warc_file`/`rec_idx` give a
    * stable provenance key; `corrupt` marks a malformed tail (the rest of
    * that file is skipped, prior records stand).
    */
  final case class WarcRecord(
      warc_file: String,
      rec_idx: Int,
      warc_type: String,
      target_uri: String, // null when absent
      content: Array[Byte],
      corrupt: Boolean)

  /** Parse one archive's bytes into payload records — gzip-sniffed, then
    * STREAMED record-by-record over the (possibly decompressing) input:
    * only one record's payload is ever materialized, never the whole
    * decompressed archive (a ~1 GB Common Crawl .warc.gz decompresses
    * 3-5×, past any single-array buffer). Malformed input of ANY kind —
    * garbage headers, negative/overflowing Content-Length, truncated
    * payloads, a gzip stream cut off mid-member — surfaces as ONE counted
    * corrupt marker for the file's tail instead of a task-fatal exception
    * (prior records stand).
    */
  def parse(fileName: String, raw: Array[Byte]): Iterator[WarcRecord] = {
    val bin = new java.io.ByteArrayInputStream(raw)
    val in: java.io.InputStream =
      if (isGzip(raw))
        // multi-member stream (the Common Crawl member-per-record layout):
        // JDK GZIPInputStream reads concatenated members natively
        new java.util.zip.GZIPInputStream(bin)
      else bin
    new Iterator[WarcRecord] {
      private var idx = 0
      private var done = raw.isEmpty
      private var pending: WarcRecord = null
      advance()

      private def corruptTail(): WarcRecord = {
        done = true
        WarcRecord(fileName, idx, "corrupt", null, Array.emptyByteArray,
          corrupt = true)
      }

      private def advance(): Unit = {
        pending = null
        while (pending == null && !done) {
          // any decode failure from here on (incl. ZipException/EOF from a
          // truncated gzip member) is the file's malformed tail
          try parseOne() match {
            case Right(Some(r)) => pending = r
            case Right(None) => // non-payload record type: keep scanning
            case Left(true) => done = true // clean EOF
            case Left(false) => pending = corruptTail()
          } catch { case _: java.io.IOException => pending = corruptTail() }
        }
      }

      /** Right(rec-or-skip) on a parsed record, Left(true) on clean EOF,
        * Left(false) on malformed bytes.
        */
      private def parseOne(): Either[Boolean, Option[WarcRecord]] = {
        // skip inter-record padding (the CRLF CRLF separator, stray CRLFs)
        var first = readLine(in)
        while (first.exists(_.isEmpty)) first = readLine(in)
        first match {
          case None => Left(true)
          case Some(v) if !v.startsWith("WARC/") => Left(false)
          case Some(_) =>
            var fields = Map.empty[String, String]
            var line = readLine(in)
            while (line.exists(_.nonEmpty)) {
              val l = line.get
              val i = l.indexOf(':')
              if (i > 0)
                fields += l.take(i).trim.toLowerCase(java.util.Locale.ROOT) ->
                  l.drop(i + 1).trim
              line = readLine(in)
            }
            if (line.isEmpty) return Left(false) // EOF inside the header block
            val len = fields.get("content-length").flatMap(_.toLongOption)
              .getOrElse(-1L)
            // negative, absent, or single-array-impossible lengths are
            // malformed — never fed to an allocator
            if (len < 0 || len > Int.MaxValue - 16) return Left(false)
            val payload = in.readNBytes(len.toInt)
            if (payload.length < len) return Left(false) // truncated payload
            val wtype = fields.getOrElse("warc-type", "")
            val uri = fields.get("warc-target-uri").orNull
            idx += 1
            wtype match {
              case "resource" =>
                Right(Some(WarcRecord(fileName, idx - 1, wtype, uri, payload,
                  corrupt = false)))
              case "response" =>
                // strip the HTTP header block — CRLF CRLF per spec, with a
                // bare-LF fallback (non-compliant servers exist in real
                // crawls); NO terminator at all means the capture is
                // headers-only/truncated → counted corrupt, not a silent
                // empty document
                val h = indexOfBlankLine(payload)
                if (h < 0)
                  Right(Some(WarcRecord(fileName, idx - 1, wtype, uri,
                    Array.emptyByteArray, corrupt = true)))
                else Right(Some(WarcRecord(fileName, idx - 1, wtype, uri,
                  java.util.Arrays.copyOfRange(payload, h, payload.length),
                  corrupt = false)))
              case _ => Right(None) // warcinfo/request/metadata: skipped
            }
        }
      }

      override def hasNext: Boolean = pending != null
      override def next(): WarcRecord = {
        val r = pending; advance(); r
      }
    }
  }

  /** Read one header line (terminated by \n, \r stripped); None at EOF
    * with nothing read.
    */
  private def readLine(in: java.io.InputStream): Option[String] = {
    val buf = new java.io.ByteArrayOutputStream(80)
    var c = in.read()
    if (c < 0) return None
    while (c >= 0 && c != '\n') {
      if (c != '\r') buf.write(c)
      c = in.read()
    }
    Some(new String(buf.toByteArray, StandardCharsets.UTF_8))
  }

  /** Index just PAST the first blank line (CRLF CRLF or bare LF LF) — the
    * HTTP header/body boundary; -1 when absent.
    */
  private def indexOfBlankLine(b: Array[Byte]): Int = {
    var i = 0
    while (i + 1 < b.length) {
      if (b(i) == '\n') {
        if (b(i + 1) == '\n') return i + 2
        if (i + 2 < b.length && b(i + 1) == '\r' && b(i + 2) == '\n') return i + 3
      }
      i += 1
    }
    -1
  }

  private def isGzip(b: Array[Byte]): Boolean =
    b.length >= 2 && (b(0) & 0xff) == 0x1f && (b(1) & 0xff) == 0x8b

  /** Read a directory of `.warc`/`.warc.gz` archives into
    * `(warc_file, rec_idx, warc_type, target_uri, content, corrupt)` —
    * whole-file units through the binaryFile source, parsed record-by-
    * record where the bytes live. Compose with
    * [[graft.text.CorpusClean.extractHtmlText]] +
    * [[graft.text.CorpusPipeline]] for the crawl-to-corpus chain.
    */
  def readWarc(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.warc*")
      .load(path)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (p, raw) => parse(p, raw) }
      .toDF()
  }

  /** Write `(urlCol, contentCol)` rows as WARC 1.1 `resource` records, one
    * archive per partition (`part-NNNNN.warc` + optional whole-file gzip),
    * via the same Hadoop-FS single-writer recipe as the segment writer.
    * `dateIso` is the WARC-Date stamped on every record — an explicit
    * parameter (not now()) so archives are byte-reproducible; record ids
    * derive from a content digest for the same reason. Returns the file
    * count.
    */
  def writeWarc(df: DataFrame, dir: String, urlCol: String,
                contentCol: String, dateIso: String = "2020-01-01T00:00:00Z",
                gzip: Boolean = false): Long = {
    val spark = df.sparkSession
    val conf = spark.sparkContext.broadcast(new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration))
    import spark.implicits._
    val files = df.select(col(urlCol).cast("string"), col(contentCol))
      .as[(String, Array[Byte])]
      .mapPartitions { it =>
        if (!it.hasNext) Iterator.empty
        else {
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val name = f"part-$pid%05d.warc" + (if (gzip) ".gz" else "")
          val path = new org.apache.hadoop.fs.Path(dir, name)
          val fs = path.getFileSystem(conf.value.value)
          val raw = fs.create(path, true)
          val out =
            if (gzip) new java.util.zip.GZIPOutputStream(raw) else raw
          // one digest per partition — getInstance walks the JCA provider
          // list per call, pure overhead on the write hot path; digest()
          // resets the instance so reuse is safe
          val md = java.security.MessageDigest.getInstance("SHA-256")
          var seq = 0
          try {
            it.foreach { case (url, content0) =>
              val content =
                if (content0 == null) Array.emptyByteArray else content0
              // record ids must be UNIQUE (the WARC contract — CDX
              // indexers dedup by id, and duplicate payloads are this
              // project's normal corpus shape): file name + in-file
              // sequence make the id unique, the content digest keeps it
              // reproducible
              val id = md.digest(content).take(16)
                .map("%02x".format(_)).mkString
              val header =
                s"WARC/1.1\r\n" +
                  s"WARC-Type: resource\r\n" +
                  s"WARC-Record-ID: <urn:graft:$name:$seq:sha256:$id>\r\n" +
                  s"WARC-Date: $dateIso\r\n" +
                  (if (url != null) s"WARC-Target-URI: $url\r\n" else "") +
                  s"Content-Type: application/octet-stream\r\n" +
                  s"Content-Length: ${content.length}\r\n\r\n"
              out.write(header.getBytes(StandardCharsets.UTF_8))
              out.write(content)
              out.write(Crlf); out.write(Crlf)
              seq += 1
            }
          } finally out.close()
          Iterator.single(name)
        }
      }
    files.count()
  }
}
