package graft.cdc

import org.apache.hadoop.fs.{FileSystem, Path}

/** Atomic tiny-file metadata IO — the ONE implementation behind every
  * single-file fence, registry and pin (the DSv2 sink's epoch fence,
  * [[JoinMv]]'s agg fence, [[DynamicPipeline]]'s schema registry, state and
  * MV savepoints) and, through [[commitNext]], behind every VERSIONED
  * metadata file (the [[Buckets]] layout manifest, the truncate fences).
  *
  * Write protocol: content goes to a hidden temp sibling, then
  * delete-existing + rename. Delete+rename is NOT atomic on every
  * filesystem; a crash in the gap leaves NO file, which every caller treats
  * as "not yet written" — costing one redundant idempotent redo on replay,
  * never a torn read (a reader sees either the old complete file, the new
  * complete file, or nothing). Temp names carry a UUID so concurrent
  * writers of the same path never collide on the temp.
  */
private[graft] object MetaFile {

  def write(fs: FileSystem, path: Path, content: String): Unit = {
    fs.mkdirs(path.getParent)
    val tmp = new Path(path.getParent,
      s".${path.getName}.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, true)
    out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    if (fs.exists(path)) fs.delete(path, false)
    if (!fs.rename(tmp, path))
      throw new IllegalStateException(s"meta file write failed: $tmp -> $path")
  }

  def read(fs: FileSystem, path: Path): Option[String] =
    if (!fs.exists(path)) None
    else {
      val in = fs.open(path)
      try Some(new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    }

  // ── versioned metadata: `dir/v=N`, one file per version ──────────────

  /** The `v=N` entries under `dir`, ascending (empty when `dir` is absent).
    * A versioned metadata file is complete once listed — [[write]] renames
    * it into place — so no marker is consulted. Bucket version dirs list
    * the same way: the layout manifest, not the listing, decides which of
    * them readers open. */
  def versions(fs: FileSystem, dir: Path): Seq[Long] =
    (try fs.listStatus(dir).toSeq
     catch { case _: java.io.FileNotFoundException => Seq.empty })
      .map(_.getPath.getName).filter(_.startsWith("v="))
      .map(_.stripPrefix("v=").toLong).sorted

  /** The content of the latest version under `dir`. */
  def latest(fs: FileSystem, dir: Path): Option[String] =
    versions(fs, dir).lastOption.flatMap(v => read(fs, new Path(dir, s"v=$v")))

  /** Commit `content` as the next version under `dir` — the rename is the
    * commit point. Retention keeps the new version plus one predecessor,
    * so a reader that resolved the previous version still finds it. */
  def commitNext(fs: FileSystem, dir: Path, content: String): Unit = {
    val vs = versions(fs, dir)
    val next = vs.lastOption.getOrElse(-1L) + 1
    write(fs, new Path(dir, s"v=$next"), content)
    vs.filter(_ < next - 1).foreach(v => fs.delete(new Path(dir, s"v=$v"), true))
  }
}
