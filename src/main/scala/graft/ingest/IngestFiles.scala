package graft.ingest

import java.io.InputStream
import java.util.zip.{GZIPInputStream, ZipInputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileSystem, Path => HPath}

/** File-level plumbing of the vehicle-CSV ingest: glob/directory
  * expansion, Hadoop-conf shipping and decompression dispatch for the
  * DataSourceV2 [[graft.sources.VehicleCsvSource]] (batch and
  * streaming), `tools/IngestBench`'s read stage, and the Column-pipeline
  * oracle the tests compare the source against, so the oracle cannot
  * drift from it (the r14 review found directory and empty-zip parity
  * breaks exactly where this logic was duplicated). */
private[graft] object IngestFiles {

  /** The session Hadoop conf as serializable pairs — a blank task-side
    * Configuration would drop spark.hadoop.* auth/filesystem settings,
    * and Configuration itself is not serializable. */
  def confProps(conf: Configuration): Seq[(String, String)] = {
    val it = conf.iterator()
    val buf = Seq.newBuilder[(String, String)]
    while (it.hasNext) { val e = it.next(); buf += e.getKey -> e.getValue }
    buf.result()
  }

  /** Rebuild a Configuration from [[confProps]] pairs on the task side. */
  def taskConf(props: Seq[(String, String)]): Configuration = {
    val c = new Configuration(false)
    props.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** Glob-expand `path` to data FILES: matched files verbatim, matched
    * DIRECTORIES expanded one level to their visible files — the
    * `spark.read.text` flat-directory behavior (hidden `_`/`.` entries
    * skipped, FileInputFormat-style), so `load("/data/pings")` works
    * the same in the source and the oracle. */
  def listInputFiles(path: String, conf: Configuration): Seq[String] =
    listInputFileStatuses(path, conf).map(_._1)

  /** [[listInputFiles]] with modification times — the streaming source's
    * discovery needs them for maxFileAge admission/eviction. */
  def listInputFileStatuses(
      path: String, conf: Configuration): Seq[(String, Long)] = {
    val fs = FileSystem.get(new java.net.URI(path), conf)
    val statuses = Option(fs.globStatus(new HPath(path)))
      .getOrElse(throw new java.io.FileNotFoundException(
        s"Path does not exist: $path"))
    def visible(p: HPath): Boolean = {
      val n = p.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    val files = statuses.toSeq.flatMap { st =>
      if (st.isFile) Seq(st)
      else fs.listStatus(st.getPath).toSeq.filter(_.isFile)
    }.filter(st => visible(st.getPath))
      .map(st => (st.getPath.toString, st.getModificationTime))
    if (files.isEmpty)
      throw new java.io.FileNotFoundException(s"No files match: $path")
    files
  }

  /** Open `file` as a decompressed byte stream: plain bytes, `.gz`
    * inflate, or `.zip` FIRST entry (CsvLoader.java:86-88) — an EMPTY
    * zip archive yields an empty stream (zero rows, the permissive-drop
    * discipline), never a throw. Extension match is CASE-INSENSITIVE
    * (the reference lowercases the name before testing,
    * CsvLoader.java:84, 90 — `DATA.GZ`/`DATA.ZIP` must decompress, not
    * parse as plain bytes). The inflater reads 64 KiB at a time (the
    * JDK default of 512 bytes costs a filesystem read per 512 bytes). */
  def openDecompressed(file: String, conf: Configuration): InputStream = {
    val raw = openRaw(file, conf)
    val lower = file.toLowerCase(java.util.Locale.ROOT)
    if (lower.endsWith(".gz")) new GZIPInputStream(raw, 1 << 16)
    else if (lower.endsWith(".zip")) {
      val zis = new ZipInputStream(raw)
      if (zis.getNextEntry == null) {
        zis.close()
        InputStream.nullInputStream()
      } else zis
    } else raw
  }

  /** The file's bytes as stored, seekable (plain-file byte ranges). */
  def openRaw(file: String, conf: Configuration): FSDataInputStream =
    FileSystem.get(new java.net.URI(file), conf).open(new HPath(file))

  /** Whether [[openDecompressed]] inflates `file` (`.gz`/`.zip`, any
    * case): such a file is read whole by one task, a plain file can be
    * read in byte ranges. */
  def isCompressed(file: String): Boolean = {
    val lower = file.toLowerCase(java.util.Locale.ROOT)
    lower.endsWith(".gz") || lower.endsWith(".zip")
  }
}
