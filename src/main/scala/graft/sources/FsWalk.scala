package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** Recursive file listing through `listStatus` alone.
  *
  * A recursive `FileSystem.listFiles` wraps every status in a
  * `LocatedFileStatus`, whose constructor reads the file's permission.
  * Without the native Hadoop library the local FS answers that by
  * starting a shell process per file (on a 4-core x86 box, 1.2–1.5 s for
  * a 223-file diag tree, against ~15 ms for this walk). The statuses returned here carry the
  * path, length, modification time and kind that `listStatus` already
  * filled in; a caller that asks one for its permission pays the fork.
  */
object FsWalk {

  /** Every file at or under `p` (just `p` when it is a file), depth-first
    * in listing order; empty when `p` does not exist. Lists what
    * `fs.listStatus` lists, so a checksum FS hides its `.crc` sidecars
    * here as it does from `listFiles`. */
  def files(fs: FileSystem, p: Path): Seq[FileStatus] = {
    val out = Seq.newBuilder[FileStatus]
    def walk(st: FileStatus): Unit =
      if (st.isDirectory) fs.listStatus(st.getPath).foreach(walk)
      else out += st
    if (fs.exists(p)) walk(fs.getFileStatus(p))
    out.result()
  }
}
