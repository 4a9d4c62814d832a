package graft.exec

import java.io.Serializable

import org.apache.hadoop.fs.{FileSystem, Path}

/** Side-effect boundary for the copy/ACL executors (SURVEY.md §7.1): the
  * reference's REST sinks (create+append+flush copy-to-adls.py:19-91,
  * setAccessControl copy-acls.py:35-46, metadata update
  * identity-mapper.py:17-33) are isolated behind this trait so the
  * relational core stays pure and oracle-checkable, and tests run against
  * the local filesystem. A production deployment binds it to ABFS via the
  * Hadoop FileSystem API — same calls, different scheme.
  */
trait FileOps extends Serializable {
  def mkdirs(path: String): Boolean
  def exists(path: String): Boolean
  /** create a file with content, overwriting (PUT + append + flush) */
  def write(path: String, content: Array[Byte]): Unit
  def read(path: String): Array[Byte]
  /** op 12 analogue: record owner/group/permissions for a path */
  def setOwnership(path: String, owner: String, group: String, perms: String): Unit

  /** Non-recursive listing of a directory's children — full paths in the
    * same rooted namespace every other verb uses. The destination half of
    * BOM/manifest verification (reference README.md:150-152: "Verify
    * against the BOM files that all your data is uploaded"). */
  def listDir(path: String): Seq[DirEntry]

  // ---- user-metadata surface (op 13, identity-mapper.py:17-33). ADLS
  // `comp=metadata` REPLACES the whole x-ms-meta-* set in one call, so the
  // verb is a whole-map PUT; the reserved-key merge (preserve custom keys,
  // rewrite hdi_permission / hdi_isfolder — adls_copy_utils.py:20-21 and
  // identity-mapper.py:87-89) is CLIENT-side, in
  // CopyExecutor.applyOwnerRemap, exactly as the reference merges before
  // its single PUT. Defaults store a `.meta` sidecar through the existing
  // read/write verbs (same pattern as the .acl ownership sidecar), so
  // every binding — local, graftfs, a future abfss — gets them for free.

  /** all user metadata on a path; empty map when none was ever set */
  def getMetadata(path: String): Map[String, String] = {
    val side = path + ".meta"
    if (!exists(side)) Map.empty
    else new String(read(side), "UTF-8").split("\n").iterator
      .filter(_.nonEmpty)
      .map { line =>
        val i = line.indexOf('=')
        require(i > 0, s"malformed metadata line on $path: $line")
        line.substring(0, i) -> line.substring(i + 1)
      }
      .toMap
  }

  /** replace ALL user metadata on a path in one call (comp=metadata) */
  def setMetadata(path: String, meta: Map[String, String]): Unit = {
    meta.keys.foreach(k => require(!k.contains("=") && !k.contains("\n"),
      s"metadata key not sidecar-encodable: $k"))
    meta.values.foreach(v => require(!v.contains("\n"),
      s"metadata value not sidecar-encodable: $v"))
    write(path + ".meta",
      meta.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }
        .mkString("\n").getBytes("UTF-8"))
  }

  // ---- chunked byte-stream surface (op 5 consumer, copy-to-adls.py:55-91):
  // the four REST verbs of the reference's copy inner loop — ranged GET from
  // the source, create + append-at-position + flush on the destination.
  // Defaults are whole-file fallbacks so simple FileOps decorators keep
  // working; HadoopFileOps overrides all four with streaming forms.

  /** byte length of an existing file */
  def length(path: String): Long = read(path).length.toLong
  /** ranged GET (x-ms-range bytes=offset..offset+len-1, copy-to-adls.py:66-69) */
  def readRange(path: String, offset: Long, len: Int): Array[Byte] = {
    val all = read(path)
    java.util.Arrays.copyOfRange(all, offset.toInt, (offset + len).toInt)
  }
  /** PUT: create an empty file, overwriting (copy-to-adls.py:19-27) */
  def createFile(path: String): Unit = write(path, Array.emptyByteArray)
  /** PATCH action=append&position=offset (copy-to-adls.py:76-82): offset
    * must equal the current file length — the ADLS position contract */
  def append(path: String, offset: Long, data: Array[Byte]): Unit = {
    val cur = read(path)
    require(cur.length.toLong == offset,
      s"append position mismatch on $path: at=${cur.length} expected=$offset")
    write(path, cur ++ data)
  }
  /** PATCH action=flush&position=length (copy-to-adls.py:84-89): seals the
    * file and validates the final length */
  def flush(path: String, totalLen: Long): Unit = {
    val got = length(path)
    require(got == totalLen, s"flush length mismatch on $path: at=$got expected=$totalLen")
  }
}

/** One child of a [[FileOps.listDir]] listing: rooted path, folder flag,
  * byte length (0 for folders). */
final case class DirEntry(name: String, isFolder: Boolean, length: Long)

object FileOps {
  /** reserved metadata keys (adls_copy_utils.py:20-21) */
  val MetaPermissions = "hdi_permission"
  val MetaIsFolder = "hdi_isfolder"
}

/** Hadoop-FileSystem-backed implementation; works for file://, hdfs://,
  * abfss:// alike. Scheme-specific settings (account keys, token
  * providers, mock-FS roots) travel as `conf` entries applied to the
  * Hadoop Configuration on each executor — the same channel
  * `fs.azure.account.key.<account>` / `fs.azure.sas.token.provider.type`
  * use for a real ADLS binding (MIGRATION.md §auth). Ownership set via
  * extended attributes would need a real ADLS endpoint, so ownership
  * records are written as sidecar files — observable by tests, same
  * fan-out shape as the REST calls. */
final class HadoopFileOps(root: String, conf: Map[String, String] = Map.empty)
    extends FileOps {
  @transient private lazy val fs: FileSystem =
    new Path(root).getFileSystem(HadoopConf(conf))

  /** Chunked writes go through the raw stream layer: LocalFileSystem wraps a
    * ChecksumFileSystem whose append() throws and whose .crc sidecars would
    * be invalidated by append-at-offset; cloud FSes (abfss, graftfs) pass
    * through unchanged. */
  @transient private lazy val rawFs: FileSystem = fs match {
    case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
    case other => other
  }

  private def p(path: String) = new Path(root + path)

  override def mkdirs(path: String): Boolean = fs.mkdirs(p(path))
  override def exists(path: String): Boolean = fs.exists(p(path))

  override def write(path: String, content: Array[Byte]): Unit = {
    val out = fs.create(p(path), true)
    try out.write(content) finally out.close()
  }

  override def read(path: String): Array[Byte] = {
    val in = fs.open(p(path))
    try {
      val len = fs.getFileStatus(p(path)).getLen.toInt
      val buf = new Array[Byte](len)
      in.readFully(0, buf)
      buf
    } finally in.close()
  }

  override def setOwnership(path: String, owner: String, group: String, perms: String): Unit =
    write(path + ".acl", s"$owner:$group:$perms".getBytes("UTF-8"))

  override def listDir(path: String): Seq[DirEntry] = {
    val rootPath = new Path(root).toUri.getPath
    fs.listStatus(p(path)).toSeq.map { st =>
      val full = st.getPath.toUri.getPath
      val rel =
        if (rootPath.nonEmpty && rootPath != "/" && full.startsWith(rootPath))
          full.substring(rootPath.length)
        else full
      DirEntry(rel, st.isDirectory, if (st.isDirectory) 0L else st.getLen)
    }
  }

  override def length(path: String): Long = rawFs.getFileStatus(p(path)).getLen

  override def readRange(path: String, offset: Long, len: Int): Array[Byte] = {
    val in = rawFs.open(p(path))
    try {
      val buf = new Array[Byte](len)
      in.readFully(offset, buf)
      buf
    } finally in.close()
  }

  override def createFile(path: String): Unit = {
    val out = rawFs.create(p(path), true)
    out.close()
  }

  override def append(path: String, offset: Long, data: Array[Byte]): Unit = {
    val cur = rawFs.getFileStatus(p(path)).getLen
    require(cur == offset,
      s"append position mismatch on $path: at=$cur expected=$offset")
    val out = rawFs.append(p(path))
    try out.write(data) finally out.close()
  }

  override def flush(path: String, totalLen: Long): Unit = {
    val got = rawFs.getFileStatus(p(path)).getLen
    require(got == totalLen,
      s"flush length mismatch on $path: at=$got expected=$totalLen")
  }
}
