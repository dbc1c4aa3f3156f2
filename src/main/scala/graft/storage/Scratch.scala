package graft.storage

import java.nio.file.{Files, Paths, StandardCopyOption}

/** Persisted scratch state: derived tables, indexes and edge lists that
  * a query builds once from its input and reads on every later run, the
  * way a production pipeline reads yesterday's medallion tables.
  *
  * Content fingerprints: state keyed on the md5 of the input PATH alone
  * silently survives the input's files changing underneath it — the
  * gate would then run against stale signatures. Folding every file's
  * (relative path, size, mtime) into the key makes any input mutation
  * produce a different scratch location, forcing a rebuild. Size+mtime,
  * not content hashes: fingerprinting must stay O(file count) — at
  * 100 TB you cannot re-read the corpus to decide whether to reuse
  * derived state, and object stores version exactly this way.
  */
object Scratch {

  /** The scratch root of state `tag` derived from `input`:
    * `graft_<tag>_<first 8 hex of the fingerprint>` under the JVM's
    * temp dir. */
  def root(tag: String, input: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_${tag}_${fingerprint(input).take(8)}"

  /** Build-once state under [[root]]: `build` runs only when the root
    * has no `_complete` marker, and the string it returns becomes the
    * marker, written last (atomically). A missing marker means no build
    * ever finished, so whatever the root holds is a torn build's debris
    * and is deleted before building: a rebuild on top of it would, for
    * a versioned catalog, commit its versions after the torn ones and
    * renumber them. A build that throws leaves no marker. Returns the
    * root and the marker's content. */
  def state(tag: String, input: String)(build: String => String): (String, String) = {
    val dir = root(tag, input)
    val marker = Paths.get(dir, "_complete")
    if (Files.exists(marker)) (dir, Files.readString(marker))
    else {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      val content = build(dir)
      Files.createDirectories(Paths.get(dir))
      Files.move(Files.writeString(Paths.get(dir, "_complete.tmp"), content),
        marker, StandardCopyOption.ATOMIC_MOVE)
      (dir, content)
    }
  }

  def fingerprint(dir: String): String = {
    val root = Paths.get(dir)
    val sb = new StringBuilder(dir)
    if (Files.isDirectory(root)) {
      val stream = Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        stream.iterator().asScala
          .filter(Files.isRegularFile(_))
          .map(p => (root.relativize(p).toString, Files.size(p),
            Files.getLastModifiedTime(p).toMillis))
          .toSeq.sortBy(_._1)
          .foreach { case (name, size, mtime) =>
            sb.append('|').append(name).append(':')
              .append(size).append(':').append(mtime)
          }
      } finally stream.close()
    }
    org.apache.commons.codec.digest.DigestUtils.md5Hex(sb.toString)
  }
}
