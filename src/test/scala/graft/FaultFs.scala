package graft

import org.apache.hadoop.fs.{FileStatus, FilterFileSystem, Path, RawLocalFileSystem}
import java.net.URI

/** Test-only local filesystem under the `faultfs` scheme that fails a
  * commit's steps AFTER its log entry publishes. Once [[FaultFs.armed]],
  * the first entry published into a `_graft_log` (renamed there) trips
  * it; tripped, `_floor.ptr` reads as absent and listing `_graft_log`
  * fails — so the committer's floor-pointer seeding throws after the
  * entry is already live. Register it with `fs.faultfs.impl`. */
class FaultFs extends FilterFileSystem(new FaultFs.Local) {
  import FaultFs._

  override def rename(src: Path, dst: Path): Boolean = {
    val ok = super.rename(src, dst)
    if (ok && armed && dst.getParent.getName == "_graft_log" && dst.getName.endsWith(".json"))
      tripped = true
    ok
  }

  override def getFileStatus(p: Path): FileStatus =
    if (tripped && p.getName == "_floor.ptr") throw new java.io.FileNotFoundException(p.toString)
    else super.getFileStatus(p)

  override def exists(p: Path): Boolean =
    !(tripped && p.getName == "_floor.ptr") && super.exists(p)

  override def listStatus(p: Path): Array[FileStatus] =
    if (tripped && p.getName == "_graft_log")
      throw new java.io.IOException(s"injected listing failure on $p")
    else super.listStatus(p)
}

object FaultFs {
  val Scheme = "faultfs"
  @volatile var armed = false
  @volatile var tripped = false

  /** The local disk under the `faultfs` scheme. The stock local
    * statuses resolve permissions through a `java.io.File` of the path's
    * URI, which takes only `file:` — this one reports plain statuses. */
  class Local extends RawLocalFileSystem {
    override def getUri: URI = URI.create(s"$Scheme:///")

    private def plain(st: FileStatus): FileStatus =
      new FileStatus(st.getLen, st.isDirectory, st.getReplication, st.getBlockSize,
        st.getModificationTime, st.getAccessTime, null, null, null, st.getPath)

    override def getFileStatus(p: Path): FileStatus = plain(super.getFileStatus(p))

    override def listStatus(p: Path): Array[FileStatus] = super.listStatus(p).map(plain)
  }
}
